package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synthesizes a larger scale point from an existing testdata dir by
  * unioning F key-shifted replicas of every table (dev tool, not part
  * of the driver contract — TESTDATA.md's dirs are read-only, so the
  * output lives under the repo's `localdata/`).
  *
  *   sbt "runMain graft.tools.ScaleUp /root/testdata/sf0.1 localdata/sf1 10"
  *
  * Design constraints (the point is to preserve each operator family's
  * work profile at 10×, not just to add rows):
  *  - Every surrogate key shifts by `replica * 10_000_000` so replicas
  *    are disjoint and joins stay 1:N exactly as at the source SF
  *    (offset chosen to keep event_id below the t04 oracle invariant
  *    of 1e10 for any replica count the tool would realistically see).
  *  - Foreign keys into replicated tables shift together (orders →
  *    customer, lineitem → part/supplier); the tiny dims
  *    (region/nation) are kept single-copy so dim joins stay
  *    broadcast-shaped, as they would be in production.
  *  - `documents.text` goes through a per-replica affine alphabet
  *    cipher: a bijective char map preserves length, tokenization
  *    shape, and within-replica exact/near-duplicate structure
  *    EXACTLY (Jaccard over shingles is invariant under a bijective
  *    alphabet rename), while cross-replica copies share no shingles —
  *    so dedup/LSH entropy scales instead of collapsing into
  *    everything-matches-its-own-clone. 312 distinct ciphers, so this
  *    holds to factor 312.
  *  - `embeddings.embedding` gets a circular rotation of its
  *    dimensions per replica (sign-flipped each full cycle): norms and
  *    within-replica cosine structure are preserved exactly;
  *    cross-replica vectors decorrelate up to factor 2×dim.
  *  - Timestamps are kept as-is (10× keys per window is the honest
  *    state-store / sessionization stress; the time axis is not the
  *    scale dimension here).
  */
object ScaleUp {
  private val Offset = 10_000_000L
  private val Lower = "abcdefghijklmnopqrstuvwxyz"
  private val Upper = Lower.toUpperCase(java.util.Locale.ROOT)

  // the 12 multipliers coprime to 26: units of Z/26, each yields a
  // bijective affine letter map i -> (a*i + b) mod 26
  private val Units = Seq(1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)

  /** Bijective per-replica text cipher (identity for replica 0): an
    * affine map over the letter alphabet. 12 units x 26 shifts = 312
    * distinct bijections, so replicas stay pairwise-distinct-ciphered
    * up to factor 312 (a plain rotation repeats at 26, which would
    * reintroduce cross-replica exact duplicates at larger factors and
    * corrupt the dedup work profile).
    */
  private def cipher(c: org.apache.spark.sql.Column, k: Int) = {
    val (a, b) = (Units(k % Units.length), (k / Units.length) % 26)
    if (a == 1 && b == 0) c
    else {
      val mapped = Lower.indices.map(i => Lower((a * i + b) % 26)).mkString
      translate(c, Lower + Upper,
        mapped + mapped.toUpperCase(java.util.Locale.ROOT))
    }
  }

  def main(args: Array[String]): Unit = {
    val inDir = args(0)
    val outDir = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = graft.core.EngineSession.fromEnv("graft-scaleup")

    def src(name: String): DataFrame = graft.core.Tables.load(spark, inDir, name)

    /** Union `factor` replicas of `df`, shifting `keys` and mapping
      * text/vector columns per replica; write as a parquet dir with
      * `files` output files (multi-file so scans parallelize — the
      * source dirs are single-row-group, which is itself a scale
      * bottleneck this tool deliberately removes).
      */
    def replicate(name: String, keys: Seq[String], files: Int,
                  textCols: Seq[String] = Nil,
                  vecCols: Seq[String] = Nil): Unit = {
      val df = src(name)
      val dim = if (vecCols.isEmpty) 0
        else df.select(size(col(vecCols.head))).first().getInt(0)
      val parts = (0 until factor).map { k =>
        var d = df
        keys.foreach(c => d = d.withColumn(c, col(c) + lit(k * Offset)))
        textCols.foreach(c => d = d.withColumn(c, cipher(col(c), k)))
        vecCols.foreach { c =>
          val r = k % math.max(dim, 1)
          if (r != 0) d = d.withColumn(c,
            concat(slice(col(c), r + 1, dim - r), slice(col(c), 1, r)))
          // past one full rotation cycle the rotations repeat; negate
          // the whole vector on odd cycles (a global orthogonal
          // transform: within-replica cosine structure is preserved
          // EXACTLY, while replica k no longer duplicates replica
          // k - dim). Distinct up to factor 2*dim.
          if ((k / math.max(dim, 1)) % 2 == 1)
            d = d.withColumn(c, transform(col(c), x => -x))
        }
        d
      }
      parts.reduce(_.unionAll(_))
        .repartition(files)
        .write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      println(s"[scaleup] $name x$factor -> $outDir/$name.parquet ($files files)")
    }

    def copy(name: String): Unit = {
      src(name).coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      println(s"[scaleup] $name copied (1 file)")
    }

    copy("region")
    copy("nation")
    replicate("customer", Seq("c_custkey"), 2)
    replicate("supplier", Seq("s_suppkey"), 1)
    replicate("part", Seq("p_partkey"), 1)
    replicate("orders", Seq("o_orderkey", "o_custkey"), 4)
    replicate("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"), 8)
    replicate("events", Seq("event_id", "user_id"), 4)
    replicate("documents", Seq("doc_id"), 2, textCols = Seq("text"))
    replicate("embeddings", Seq("vec_id"), 1, vecCols = Seq("embedding"))
    spark.stop()
  }
}
