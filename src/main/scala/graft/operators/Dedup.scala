package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Tables.fanOut
import graft.functions.{SimHash64, TextFunctions, TextSketches}

/** Deduplication operators for training-data pipelines, all expressed
  * as declarative DataFrame plans:
  *
  *  - exact: hash-groupBy (one shuffle on the content key; map-side
  *    partial aggregation keeps the shuffle proportional to distinct
  *    keys, not rows);
  *  - MinHash+LSH: shingle → k min-hashes → band buckets → bucket join
  *    → exact-Jaccard verify. Only candidate pairs sharing a band are
  *    ever compared — the O(n²) pair space is never materialized;
  *  - SimHash: 64-bit fingerprint → band buckets → Hamming verify;
  *  - n-gram Jaccard: the exact verifier, usable standalone on any
  *    candidate-pair set;
  *  - embedding cosine: SRP-LSH buckets → cosine verify (see
  *    Similarity for the ANN search form).
  *
  * Every bucket-join guards against pathological buckets (stopword-only
  * bands, zero vectors) with `maxBucketSize`: skew protection first,
  * because at 100 TB one hot bucket is the whole job's straggler.
  */
object Dedup {

  // ── exact ───────────────────────────────────────────────────────────

  /** Exact duplicate groups keyed on (normalized) content. Returns one
    * row per distinct content: representative id = min(id), dup_count.
    *
    * The group key is md5(content), not the content itself: grouping
    * by the raw text ships every document's full body as the SHUFFLE
    * KEY (twice its width in the exchange). A 128-bit digest has the
    * same equality semantics (collision odds ~2^-64 at corpus scale)
    * at 16 bytes per row.
    */
  def exact(df: DataFrame, idCol: String, textCol: String,
            normalize: Boolean = true): DataFrame = {
    val key = if (normalize) lower(col(textCol)) else col(textCol)
    df.groupBy(md5(key).as("content_key"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))
      .select("keep_id", "dup_count")
  }

  /** Rows surviving exact dedup (keep the min-id representative).
    * Same md5 shuffle-key rationale as `exact`; the digest key is
    * high-cardinality — no skew.
    *
    * min_by aggregation, not a row_number window (round 18): both
    * shapes shuffle one row per (partition, digest) — partial min_by
    * and partial WindowGroupLimit reduce identically — and because the
    * struct buffer is not hash-aggregable this still plans as
    * SortAggregate (a sort per side, like the window), but the
    * row_number evaluation, the __rn projection, and the post-window
    * filter disappear: paired DrawProbe runs put d12 ~13% faster
    * (median 3.6 s vs 4.2 s) with d11 flat. Ids are unique, so
    * min_by's tie behavior never fires and the surviving rows are
    * identical (oracle-verified at sf0.01/sf0.1).
    */
  def exactSurvivors(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val cols = df.columns
    df.groupBy(md5(lower(col(textCol))).as("__k"))
      .agg(min_by(struct(cols.map(col): _*), col(idCol)).as("__r"))
      .select(cols.map(c => col("__r." + c).as(c)): _*)
  }

  /** Incremental-ingest dedup via a broadcast Bloom filter: per delta
    * document, did its (normalized) content already exist in the
    * corpus?  Returns (idCol, bloom_hit, is_dup).
    *
    * The scale shape this replaces is `delta ANTI JOIN corpus` — a
    * shuffle of the full 100 TB corpus' digests on every ingest tick.
    * Here the corpus is scanned once into an `numBits`-bit bitmap via
    * a partially-aggregated Bloom aggregate (numPartitions × numBits/8
    * bytes cross the wire, no keys), the bitmap broadcasts to the
    * delta, and only the bloom HITS — true dups plus the filter's
    * false-positive rate of the delta — are verified exactly, with
    * the candidate key set broadcast so the corpus-side semi join
    * never shuffles the corpus either. No false negatives: a miss is
    * proof the document is new.
    */
  def bloomNewDocs(corpus: DataFrame, delta: DataFrame, idCol: String,
                   textCol: String, numBits: Int = 1 << 16,
                   numHashes: Int = 6): DataFrame = {
    import graft.functions.Bloom
    val bloom = corpus
      .select(Bloom.positions(lower(col(textCol)), numHashes, numBits)
        .as("__pos"))
      .agg(Bloom.filterAgg(col("__pos"), numBits).as("__bm"))
    // exact-verify keys are md5 digests, not the text itself (the
    // Dedup.exact discipline): the candidate/match sets broadcast as
    // 16-byte keys however large the documents are
    val probed = delta
      .select(col(idCol), md5(lower(col(textCol))).as("__key"),
        Bloom.positions(lower(col(textCol)), numHashes, numBits).as("__pos"))
      .crossJoin(broadcast(bloom))
      .withColumn("bloom_hit",
        coalesce(Bloom.mightContain(col("__bm"), col("__pos")), lit(false)))
      .select(col(idCol), col("__key"), col("bloom_hit"))
    val candKeys = probed.filter(col("bloom_hit")).select("__key").distinct()
    val matched = corpus.select(md5(lower(col(textCol))).as("__key"))
      .join(broadcast(candKeys), Seq("__key"), "left_semi")
      .distinct()
      .withColumn("__dup", lit(true))
    probed.join(broadcast(matched), Seq("__key"), "left_outer")
      .select(col(idCol), col("bloom_hit"),
        coalesce(col("__dup"), lit(false)).as("is_dup"))
  }

  // ── MinHash + LSH ───────────────────────────────────────────────────

  /** Per-document MinHash signatures as one `array<long>` column `sig`.
    *
    * One imperative pass per row via the MinHashSignature Catalyst
    * expression (no explode, no shuffle, no per-element lambda
    * re-evaluation — see TextSketches for why the HOF formulation was
    * O(len·shingles) per row). Map-side only; scales with the scan.
    */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        shingleWords: Int = 3,
                        numHashes: Int = 32): DataFrame =
    // token-less docs are excluded HERE, on the text column, not by a
    // sentinel check on `sig` downstream (round 18): a filter on the
    // projected signature pushes below the fan-out exchange by
    // SUBSTITUTING the projection, so the MinHashSignature kernel ran
    // twice per row — once inside the pushed filter, once in the
    // projection (observed in the executed d12 plan). `tokens(text)`
    // nonempty is exactly the kernel's sentinel condition
    // (Sketch.shingleHashes is empty iff tokenize(text) is empty — the
    // oracle's sh CTE applies the same `len(t) > 0` guard), evaluates
    // one regex split instead of the full shingle+minhash pass, and
    // references only a base column so pushdown duplicates nothing.
    docs.filter(size(TextFunctions.tokens(col(textCol))) > 0)
      .select(col(idCol),
        TextSketches.minhashSignature(col(textCol), shingleWords, numHashes)
          .as("sig"))

  /** LSH candidate pairs: signatures banded `bands × rowsPerBand`;
    * documents sharing any band bucket become candidates. Estimated
    * Jaccard = fraction of agreeing minhash components (zip over two
    * k-element arrays — cheap).
    */
  def minhashCandidates(sig: DataFrame, idCol: String,
                        bands: Int, rowsPerBand: Int,
                        maxBucketSize: Int = 1000): DataFrame = {
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(slice(col("sig"), b * rowsPerBand + 1, rowsPerBand)).as("bh"))
    }
    // PRECONDITION: `sig` must not contain the all-MaxValue sentinel
    // signature (MinHashSignature on token-less text) — those rows
    // would collide in EVERY band with each other despite carrying no
    // similarity evidence. minhashSignatures enforces this at the text
    // column (round 18); the sentinel filter that used to sit here on
    // `sig` pushed down through the signature projection and evaluated
    // the minhash kernel a second time per row.
    val withSig = sig
      .withColumn("__b", explode(array(bandCols: _*)))
      .select(col(idCol), col("sig").as("__sig"), col("__b.band").as("band"),
        col("__b.bh").as("bh"))

    // skew guard: drop degenerate buckets (e.g. empty-shingle
    // collisions). Round 19 (guide §2.4 "remove shuffles outright",
    // §1.2): the bucket size is a COUNT window over the
    // (band, bh)-exchanged banded rows, not a separate hash-aggregate
    // joined back. The former bucketSizes branch was a SECOND full
    // banded pass over the corpus — its own scan, tokenize+minhash
    // kernel, band explode, and (band, bh) exchange (JobProbe on d08:
    // 20.7 s of 53 s task time, ~40% of the entry, writing 722 KB) —
    // plus a shuffled-hash probe join per self-join side. The window
    // needs exactly the exchange and the (band, bh) sort the self-join
    // below already pays (SortMergeJoin requirements), so the guard now
    // costs one streaming count over sorted rows instead of a corpus
    // pass. Trade-off, stated: rows of DEGENERATE buckets (>
    // maxBucketSize) are now sorted/buffered once per side before the
    // filter drops them, where the probe join dropped them pre-sort —
    // a spillable window buffer per hot bucket vs a full extra
    // tokenize+minhash pass over EVERY document at 100 TB; the
    // empty-token guard in minhashSignatures already removes the
    // pathological sentinel-collision bucket class. Count semantics,
    // `> 1`, and `<= maxBucketSize` are row-for-row identical to the
    // aggregated form (oracle-verified at sf0.01/sf0.1).
    val bucketW = org.apache.spark.sql.expressions.Window
      .partitionBy("band", "bh")
    val sized = withSig
      .withColumn("__cnt", count(lit(1)).over(bucketW))
      .filter(col("__cnt") <= maxBucketSize && col("__cnt") > 1)
      .drop("__cnt")

    val a = sized.select(col("band"), col("bh"),
      col(idCol).as("id_a"), col("__sig").as("sig_a"))
    val b = sized.select(col("band"), col("bh"),
      col(idCol).as("id_b"), col("__sig").as("sig_b"))
    // shuffle_merge-hinted (round 15): both sides are the BANDED CORPUS
    // (bands × N rows, each carrying the k-element signature array) —
    // data-dependent, so never a legal broadcast at scale. Left
    // unhinted, AQE's runtime conversion sometimes built a broadcast
    // hash relation from one side anyway: fixed-width int64 signature
    // arrays compress brutally, so the COMPRESSED stage size the
    // runtime threshold checks sits far below the in-memory relation
    // size (the exact squeezability that flipped e08). Measured via
    // DrawProbe at the sf1 gate corpus: the converted shape drew
    // 25–40 s against ~4 s for the shuffled shapes (driver-heap GC
    // churn building the relation), nondeterministically per draw —
    // and at 100 TB the conversion is an OOM, not a slowdown. This is
    // a big×big join (both sides the banded corpus), so the pin is
    // sort-merge — the one strategy that spills on BOTH sides at any
    // partition size; per-key groups are already capped by the bucket
    // guard above, so the merge never holds more than maxBucketSize
    // rows per key in memory.
    a.hint("shuffle_merge").join(b, Seq("band", "bh"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (aggregate(zip_with(col("sig_a"), col("sig_b"),
          (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, x) => acc + x).cast("double")
          / size(col("sig_a"))).as("est_jaccard"))
      .groupBy("id_a", "id_b").agg(max("est_jaccard").as("est_jaccard"))
  }

  /** Exact n-gram Jaccard verification of candidate pairs against the
    * source shingle sets. Returns pairs with `jaccard >= threshold`.
    *
    * Sets are carried as sorted arrays of 64-bit shingle HASHES, not
    * strings (ShingleHashSet kernel): identical set semantics (modulo
    * ~2^-64 collisions) at a fraction of the shuffle width and
    * intersect cost.
    */
  def jaccardVerify(candidates: DataFrame, docs: DataFrame, idCol: String,
                    textCol: String, shingleWords: Int,
                    threshold: Double): DataFrame = {
    // The sets frame feeds BOTH verify joins (set_a and set_b), so the
    // tokenize+shingle-hash kernel runs twice per document — measured
    // and DELIBERATELY kept (round 18): both alternatives lost. A
    // candidate-id Bloom prefilter of the set build (bitmap agg +
    // broadcast + per-row probes) plateaued d12 at 4.4 s steady-state
    // vs 3.0 s without it, and a lazy localCheckpoint that computes the
    // kernel once and serves both joins from block storage traded the
    // fully-pipelined JIT-compiled kernel for block write+read and
    // regressed d08's steady state 1.9 s → 2.3 s. The duplicated
    // kernel is map-side, scales with the scan, and stays fused into
    // each join's shuffle map stage — at any scale it is two extra
    // CPU passes, never an extra shuffle.
    //
    // CLOSED at sf1 (round 19, r18 VERDICT task 3): re-measured in the
    // candidates ≪ corpus regime the idea targets (50k docs, pair list
    // a few hundred rows), interleaved DrawProbe arms on one rig —
    // d08: prefiltered min 3.64 s vs 3.27 s without; d12: prefiltered
    // median 5.54 s vs 4.94 s without. The prefilter loses at sf0.1
    // AND sf1 because its costs are structural, not amortizable: the
    // candidate list must eagerly checkpoint (two consumers), which
    // serializes the DAG — mining must COMPLETE before either set
    // build starts, where today the set builds overlap the mining
    // stages on idle cores — and every corpus row pays the id→string
    // cast + 6 Bloom positions probe. Item closed permanently; at a
    // true 100 TB deployment the right form of this idea is a
    // candidate-id SEMI JOIN against a persisted pair table, not an
    // in-query bitmap.
    val sets = docs.select(col(idCol).as("__id"),
      TextSketches.shingleHashSet(col(textCol), shingleWords).as("__set"))
    // Both verify joins are fenced off AQE's runtime broadcast
    // conversion (round 15, same find as the band self-join): both
    // sides are data-dependent — candidates scale with collisions,
    // sets with the corpus — and the shingle-hash arrays share the
    // squeezability that lets the COMPRESSED-size threshold admit a
    // runtime broadcast whose in-memory hash relation is ~10× larger.
    // DrawProbe tied the heavy-tail sf1 draws to exactly those
    // residual conversions; at 100 TB the SETS side as a broadcast is
    // an OOM. Join 1 pins SHUFFLE_HASH with the build on the
    // candidates side: bare (id_a, id_b, est_jaccard) rows — the
    // join's naturally-smaller input (post est_jaccard prefilter),
    // narrow enough that the non-spilling per-partition hash relation
    // is bounded by the shuffle width, and the corpus side streams
    // unsorted. Join 2 does NOT reuse that hint (round 16): its left
    // side now carries a full shingle-hash set per row (set_a), and a
    // ShuffledHashJoin build side cannot spill — under a band-collision
    // storm the per-partition relation of wide-array rows is an
    // executor OOM, the exact failure the "sort-merge spills both
    // sides" rule exists for. Array-carrying × array-carrying ⇒
    // shuffle_merge, like the band self-join above.
    candidates.hint("shuffle_hash")
      .join(sets.withColumnRenamed("__id", "id_a")
        .withColumnRenamed("__set", "set_a"), Seq("id_a"))
      .hint("shuffle_merge")
      .join(sets.withColumnRenamed("__id", "id_b")
        .withColumnRenamed("__set", "set_b"), Seq("id_b"))
      // empty ∪ empty would give 0/0 = NaN, and Spark orders NaN ABOVE
      // every number so `NaN >= threshold` passes — define ∅/∅ as 0
      .withColumn("jaccard",
        when(size(array_union(col("set_a"), col("set_b"))) === 0, 0.0)
          .otherwise(
            size(array_intersect(col("set_a"), col("set_b"))).cast("double") /
              size(array_union(col("set_a"), col("set_b")))))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "est_jaccard", "jaccard")
  }

  /** Full MinHash-LSH near-dup pipeline over a text column.
    *
    * Candidates are prefiltered on the signature-estimated Jaccard
    * (margin 0.6×threshold — the estimator is unbiased with σ ≈
    * 1/√numHashes, so the margin keeps recall while discarding the
    * band-collision noise floor before the expensive exact verify).
    */
  def minhashNearDups(docs: DataFrame, idCol: String, textCol: String,
                      shingleWords: Int = 3, numHashes: Int = 32,
                      bands: Int = 8, threshold: Double = 0.7,
                      maxBucketSize: Int = 1000): DataFrame = {
    val spread = fanOut(docs, idCol)
    val sig = minhashSignatures(spread, idCol, textCol, shingleWords, numHashes)
    val cands = minhashCandidates(sig, idCol, bands, numHashes / bands,
        maxBucketSize)
      .filter(col("est_jaccard") >= threshold * 0.6)
    jaccardVerify(cands, spread, idCol, textCol, shingleWords, threshold)
  }

  // ── SimHash ─────────────────────────────────────────────────────────

  /** Per-document 64-bit SimHash fingerprints. */
  def simhashFingerprints(docs: DataFrame, idCol: String,
                          textCol: String): DataFrame =
    docs.select(col(idCol),
      SimHash64.simhash64(TextFunctions.tokens(col(textCol))).as("simhash"))

  /** SimHash near-dups: band the 64 bits into `bands` chunks, bucket-join
    * on any agreeing chunk, verify with Hamming distance <= maxHamming.
    */
  def simhashNearDups(docs: DataFrame, idCol: String, textCol: String,
                      bands: Int = 4, maxHamming: Int = 3,
                      maxBucketSize: Int = 1000): DataFrame = {
    val bits = 64 / bands
    // token-less docs all collapse to the same all-zero-vote fingerprint
    // — no content evidence, exclude from pairing (same reasoning as the
    // empty-signature guard in minhashCandidates)
    val fp = simhashFingerprints(
      fanOut(docs, idCol).filter(
        size(TextFunctions.tokens(col(textCol))) > 0), idCol, textCol)
    val banded = fp.withColumn("__b", explode(array(
      (0 until bands).map(b => struct(lit(b).as("band"),
        col("simhash").bitwiseAND(lit(((1L << bits) - 1) << (b * bits)))
          .as("bh"))): _*)))
      .select(col(idCol), col("simhash"), col("__b.band").as("band"),
        col("__b.bh").as("bh"))
    // same windowed skew guard as minhashCandidates (buckets of size 1
    // can't pair, so they're dropped here too; round 19 — see the
    // minhashCandidates comment): the count window rides the
    // (band, bh) exchange + sort the sort-merge self-join below
    // already requires, where the former keepBuckets aggregate was a
    // second full banded pass (scan + tokenize + simhash + explode +
    // exchange) plus a probe join per side. The round-16 build-side
    // squeezability pin that lived on that probe join is obsolete with
    // the join itself: no hash relation exists here any more, and the
    // self-join's shuffle_merge pin below still fences AQE's runtime
    // broadcast conversion.
    val bucketW = org.apache.spark.sql.expressions.Window
      .partitionBy("band", "bh")
    val sized = banded
      .withColumn("__cnt", count(lit(1)).over(bucketW))
      .filter(col("__cnt") <= maxBucketSize && col("__cnt") > 1)
      .drop("__cnt")
    val a = sized.select(col("band"), col("bh"), col(idCol).as("id_a"),
      col("simhash").as("sh_a"))
    val b = sized.select(col("band"), col("bh"), col(idCol).as("id_b"),
      col("simhash").as("sh_b"))
    // merge-hinted (round 16): the round-15 sweep exempted this join
    // from the squeezability fence by ANALYSIS ("scalar rows compress
    // honestly") — measurement says otherwise. These scalars are
    // maximally repetitive per stage file: band is one of `bands`
    // values, bh repeats across every bucket member, ids are
    // near-sequential — dictionary/delta encoding squeezes the banded
    // corpus far below its in-memory hash-relation size, so AQE's
    // compressed-size threshold can still admit a runtime broadcast of
    // a side that GROWS WITH THE CORPUS (the sf10 gate drew 29.9 s vs
    // 51.0 s across rounds on identical code — the flip's signature;
    // DrawProbe at sf1 confirmed the converted shape, see
    // OPERATORS.md round 16). Big×big self-join ⇒ sort-merge, spills
    // both sides; per-key memory capped by the bucket-size guard.
    a.hint("shuffle_merge").join(b, Seq("band", "bh"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("hamming", SimHash64.hamming64(col("sh_a"), col("sh_b")))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming").distinct()
  }
}
