package graft.queries

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.operators.{Multimodal, Similarity}

/** Embedding similarity search + multimodal plumbing over the
  * `embeddings` / `documents` tables. The brute-force top-k carries a
  * DuckDB oracle (both engines left-fold the list in double precision);
  * LSH/centroid/multimodal entries are rows-only.
  */
object VectorQueries {

  /** Paths already published by e06 in this JVM (build-once memo). */
  private val built = scala.collection.mutable.Set.empty[String]

  /** Single-split source spread before per-row vector math (see
    * Tables.fanOut). */
  private def emb(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.fanOut(Tables.load(s, d, "embeddings"), "vec_id")

  val all: Seq[Q] = Seq(

    Q("e01_knn_brute",
      (s, d) => {
        val e = emb(s, d)
        Similarity.bruteTopK(e.filter(col("vec_id") < 10), e,
          "vec_id", "embedding", k = 5)
          .withColumn("cosine", round(col("cosine"), 6))
          .withColumn("rank", col("rank").cast("long"))
          .orderBy("query_id", "rank")
      },
      Some("""WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
                         FROM embeddings WHERE vec_id < 10),
                   c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
                         FROM embeddings),
                   s AS (SELECT query_id, neighbor_id,
                                list_cosine_similarity(qv, cv) AS cos_raw
                         FROM q CROSS JOIN c WHERE query_id <> neighbor_id),
                   r AS (SELECT query_id, neighbor_id, ROUND(cos_raw, 6) AS cosine,
                                ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos_raw DESC, neighbor_id) AS rank
                         FROM s)
              SELECT query_id, neighbor_id, cosine, rank FROM r
              WHERE rank <= 5 ORDER BY query_id, rank"""),
      headline = true),

    Q("e02_knn_srp",
      (s, d) => {
        val e = emb(s, d)
        Similarity.srpTopK(e.filter(col("vec_id") < 10), e,
          "vec_id", "embedding", k = 5, numPlanes = 8, dim = 64)
          .withColumn("cosine", round(col("cosine"), 6))
          .orderBy("query_id", "rank")
      },
      // exact differential check: the oracle inlines the kernel's
      // seeded hyperplanes and rebuilds buckets + multiprobe in SQL
      Some(OracleSql.srpTopK(k = 5, numPlanes = 8, dim = 64))),

    Q("e05_knn_ivf",
      (s, d) => {
        val e = emb(s, d)
        graft.operators.IvfAnn.topK(e.filter(col("vec_id") < 10), e,
          "vec_id", "embedding", k = 5, nCells = 16, nProbe = 3,
          iterations = 1)
          .withColumn("cosine", round(col("cosine"), 6))
          .orderBy("query_id", "rank")
      },
      // exact differential check incl. the xxhash64 seeding (replicated
      // bit-for-bit in SQL) and the decimal-exact Lloyd means
      Some(OracleSql.ivfTopK(k = 5, nCells = 16, nProbe = 3,
        iterations = 1))),

    // the 100 TB SERVING layout end-to-end: publish the index
    // partitioned by cell_id, then answer queries through the
    // partition-pruned read path (a probe's scan touches only
    // nProbe/nCells of the corpus directories — IvfAnnSpec asserts the
    // PartitionFilters). Results are identical to the in-query e05
    // build, so the same bit-exact oracle applies.
    Q("e06_knn_ivf_index",
      (s, d) => {
        val e = emb(s, d)
        val path = java.nio.file.Paths.get(
          System.getProperty("java.io.tmpdir"),
          "graft_ivf_" + d.replaceAll("[^A-Za-z0-9.]", "_")).toString
        // publish once per JVM, query many — the serving pattern this
        // entry exists to measure (e05 times the in-query build); the
        // index is deterministic, so re-publishing would write
        // identical files
        built.synchronized {
          if (!built.contains(path)) {
            graft.operators.IvfAnn.buildIndex(e, "vec_id", "embedding",
              path, nCells = 16, iterations = 1)
            built += path
          }
        }
        graft.operators.IvfAnn.topKFromIndex(s, path,
          e.filter(col("vec_id") < 10), "vec_id", "embedding",
          k = 5, nProbe = 3)
          .withColumn("cosine", round(col("cosine"), 6))
          .orderBy("query_id", "rank")
      },
      Some(OracleSql.ivfTopK(k = 5, nCells = 16, nProbe = 3,
        iterations = 1))),

    // product quantization: the corpus compresses to numSub byte codes
    // per vector and queries score via broadcast ADC lookup tables —
    // encode and scoring are in-row kernels, the corpus never shuffles
    Q("e07_knn_pq",
      (s, d) => {
        val e = emb(s, d)
        graft.operators.PqAnn.topK(e.filter(col("vec_id") < 10), e,
          "vec_id", "embedding", k = 5, numSub = 8, subDim = 8,
          ksub = 16, iterations = 2)
          .withColumn("score", round(col("score"), 6))
          .orderBy("query_id", "rank")
      },
      Some(OracleSql.pqTopK(k = 5, numSub = 8, subDim = 8, ksub = 16,
        iterations = 2))),

    // ANN quality as a measured quantity: recall@5 of each
    // approximate search against the exact brute-force ranking, per
    // query and method — the tuning loop (planes/probes/cells) driven
    // by a driver-checked number. Note the synthetic embeddings are
    // near-orthogonal (most cosines < 0.2, no cluster structure), so
    // recall is data-limited here; the MEASUREMENT is the operator.
    // the serving-memory path: int8 absmax quantization (4× smaller
    // corpus) with cosine over the exact integer codes — per-vector
    // scales cancel, so no dequantization in the scoring loop
    Q("e10_knn_int8",
      (s, d) => {
        val e = emb(s, d)
        graft.operators.Quantization.topKInt8(
          e.filter(col("vec_id") < 10), e, "vec_id", "embedding", k = 5)
          .withColumn("cosine", round(col("cosine"), 6))
          .withColumn("rank", col("rank").cast("long"))
          .orderBy("query_id", "rank")
      },
      Some(OracleSql.int8TopK(k = 5))),

    Q("e09_ann_recall",
      (s, d) => {
        val e = emb(s, d)
        val q = e.filter(col("vec_id") < 10)
        // materialize the exact ranking once (|queries|·k rows): it is
        // the ground truth for BOTH method joins, and lazily it would
        // re-run the brute-force corpus sweep per consumer
        val exact = Similarity.bruteTopK(q, e, "vec_id", "embedding", k = 5)
          .localCheckpoint(true)
        val srp = Similarity.recallAtK(
          Similarity.srpTopK(q, e, "vec_id", "embedding", k = 5,
            numPlanes = 8, dim = 64), exact)
          .select(lit("srp").as("method"), col("query_id"), col("recall"))
        val ivf = Similarity.recallAtK(
          graft.operators.IvfAnn.topK(q, e, "vec_id", "embedding", k = 5,
            nCells = 16, nProbe = 3, iterations = 1), exact)
          .select(lit("ivf").as("method"), col("query_id"), col("recall"))
        srp.unionAll(ivf).orderBy("method", "query_id")
      },
      Some(OracleSql.annRecall(k = 5, numPlanes = 8, dim = 64,
        nCells = 16, nProbe = 3, iterations = 1))),

    // SemDeDup (Abbas et al. 2023): k-means cells + within-cell cosine
    // pairs, min-id survivor — semantic dedup over embeddings, the
    // cluster-bounded complement of e04's SRP-bucket pair sweep.
    // auto-k (nCells = -1): both engines compute k = max(16,
    // ceil(N/2048)) from the corpus, so the gated path is the
    // linear-at-scale path — a pinned k would make the per-cell pair
    // scan N²/k (measured 15.6×/decade before this entry switched)
    Q("e08_semantic_dedup",
      (s, d) => graft.operators.SemDedup.verdicts(emb(s, d), "vec_id",
        "embedding", threshold = 0.3, nCells = -1, iterations = 1,
        targetCellSize = 2048)
        .orderBy("vec_id"),
      Some(OracleSql.semanticDedup(threshold = 0.3, nCells = -1,
        iterations = 1, maxCellSize = 100000, targetCellSize = 2048))),

    // exploded to scalar (label, dim, value) rows: the driver's pandas
    // compare cannot sort/hash array columns, and the long form is
    // DuckDB-oracle-checkable (exact decimal mean on both sides)
    Q("e03_label_centroids",
      (s, d) => Similarity.labelCentroids(emb(s, d), "label", "embedding")
        .select(col("label"), posexplode(col("centroid")).as(Seq("dim", "value")))
        .select(col("label"), col("dim").cast("long").as("dim"),
          round(col("value"), 6).as("value"))
        .orderBy("label", "dim"),
      Some("""SELECT label, CAST(dim AS BIGINT) AS dim,
                round(CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(38,18))) AS DOUBLE)
                  / COUNT(*), 6) AS value
              FROM (SELECT label, unnest(embedding) AS v,
                           unnest(range(len(embedding))) AS dim
                    FROM embeddings)
              GROUP BY label, dim ORDER BY label, dim""")),

    Q("e04_embedding_neardups",
      (s, d) => Similarity.embeddingNearDups(emb(s, d), "vec_id",
        "embedding", threshold = 0.2, numPlanes = 6, dim = 64)
        .withColumn("cosine", round(col("cosine"), 6))
        .orderBy("id_a", "id_b"),
      Some(OracleSql.embeddingNearDups(threshold = 0.2, numPlanes = 6,
        dim = 64))),

    Q("m01_multimodal_features",
      (s, d) => {
        val assets = Multimodal.assetsFrom(
          Tables.load(s, d, "documents"), "doc_id", "text")
        Multimodal.extractFeatures(s, assets)
          // project the float features back to exact integer bin
          // counts (round(v·n_bytes) recovers the histogram exactly
          // for n_bytes < 2^23): integer-comparable scalar rows for
          // the driver's pandas hash, no float formatting involved
          .select(col("asset_id"), col("kind"), col("n_bytes"),
            posexplode(col("features")).as(Seq("dim", "v")))
          .select(col("asset_id"), col("kind"), col("n_bytes"),
            col("dim").cast("long").as("dim"),
            round(col("v").cast("double") * col("n_bytes"))
              .cast("long").as("bin_count"))
          .orderBy("asset_id", "dim")
      },
      Some(OracleSql.multimodalFeatures())),

    // resize through the REAL operator (javax.imageio decode+rescale
    // for decodable payloads): the synthetic corpus is opaque text
    // bytes, so every row takes the documented fallback — target dims
    // land in the typed metadata and the payload scales by the pixel
    // ratio, all scalar/integer, so the whole contract is
    // oracle-checkable (the real-pixel path is pinned by
    // MultimodalSpec on a PNG fixture)
    Q("m03_resize",
      (s, d) => {
        val assets = Multimodal.assetsFrom(
          Tables.load(s, d, "documents"), "doc_id", "text")
        Multimodal.resizeImages(s, assets, targetW = 160, targetH = 120)
          .select(col("asset_id"), col("kind"),
            col("meta.width").as("width"), col("meta.height").as("height"),
            col("meta.n_bytes").as("n_bytes"))
          .orderBy("asset_id")
      },
      Some("""SELECT doc_id AS asset_id,
                ['image','audio','video'][(doc_id % 3) + 1] AS kind,
                160 AS width, 120 AS height,
                CAST(greatest(CAST(trunc(octet_length(encode(text))
                  * least(19200.0 / (((doc_id % 640) + 32) * ((doc_id % 480) + 32)), 1.0))
                  AS INTEGER), 1) AS BIGINT) AS n_bytes
              FROM documents ORDER BY asset_id""")),

    // interleaved multimodal packing (the VLM pretraining layout):
    // text tokens + per-modality patch budgets concat-and-chunked
    // into 4096-token sequences — integer metadata arithmetic only,
    // asset bytes never move
    Q("m04_interleaved_packing",
      (s, d) => Multimodal.packInterleaved(
        Tables.load(s, d, "documents"), "doc_id", "text",
        seqLen = 4096, nShards = 8)
        .orderBy("doc_id"),
      Some("""WITH t AS (
                SELECT doc_id, ['image','audio','video'][(doc_id % 3) + 1] AS kind,
                  CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                    x -> len(x) > 0)) AS BIGINT) AS ntt
                FROM documents),
              a AS (
                SELECT doc_id, kind, ntt,
                  CAST(CASE kind WHEN 'image' THEN 256 WHEN 'audio' THEN 128
                       ELSE 1024 END AS BIGINT) AS nat
                FROM t),
              w AS (
                SELECT doc_id, kind, ntt, nat, CAST(doc_id % 8 AS INTEGER) AS shard,
                  SUM(ntt + nat) OVER (PARTITION BY doc_id % 8
                    ORDER BY md5(CAST(doc_id AS VARCHAR))
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS e
                FROM a)
              SELECT doc_id, kind, ntt AS n_text_tokens, nat AS n_asset_tokens,
                shard,
                CAST(FLOOR((e - (ntt + nat)) / 4096.0) AS BIGINT) AS seq_first,
                CAST(FLOOR((e - 1) / 4096.0) AS BIGINT) AS seq_last,
                CAST((e - (ntt + nat)) % 4096 AS BIGINT) AS seq_offset
              FROM w ORDER BY doc_id""")),

    Q("m02_frame_sample",
      (s, d) => {
        val assets = Multimodal.assetsFrom(
          Tables.load(s, d, "documents"), "doc_id", "text")
        // container-aware sampler: real MP4/AVI payloads walk their
        // actual sample tables; the synthetic corpus has none, so
        // every row takes the byte-slice fallback the oracle pins
        Multimodal.sampleContainerFrames(assets)
          .groupBy("kind")
          .agg(count(lit(1)).as("n_frames"),
            countDistinct(col("asset_id")).as("n_assets"))
          .orderBy("kind")
      },
      Some(OracleSql.frameSample()))
  )
}
