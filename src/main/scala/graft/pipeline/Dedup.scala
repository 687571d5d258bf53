package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.storage.StorageLevel

/** Deduplication operators over a document corpus.
  *
  * Scale design (the part that matters at 100 TB):
  *  - exact dedup is a hash groupBy — one shuffle on the content hash;
  *  - near-dup goes through MinHash-LSH: shingle → k-minhash signature →
  *    band hashes → self-join on (band, hash) buckets. Work is O(rows ×
  *    bucket_size), NEVER an all-pairs cross join; candidate pairs are
  *    then verified with exact Jaccard on the shingle sets.
  *  - pathological buckets (thousands of identical docs) should be capped
  *    or pre-collapsed by exact dedup first — exact dedup before LSH is
  *    the recommended pipeline order.
  */
object Dedup {

  /** Skew guard shared by every bucketed operator (MinHash bands,
    * SimHash chunks, CDC chunk hashes, embedding sign buckets): drop
    * buckets larger than `maxBucket` BEFORE a self-join makes them
    * O(bucket²). The window count rides the same shuffle the join
    * needs — no extra pass. */
  private[pipeline] def cappedBuckets(df: DataFrame, keys: Seq[Column],
      maxBucket: Int): DataFrame =
    df.withColumn("__bsz", count(lit(1)).over(Window.partitionBy(keys: _*)))
      .filter(col("__bsz") <= maxBucket)
      .drop("__bsz")

  /** Per-group exact-duplicate stats via content hash (md5 — engine
    * portable). */
  def exactStats(docs: DataFrame, textCol: String, groupCol: String): DataFrame =
    docs.groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("total"),
        countDistinct(md5(col(textCol).cast("binary"))).as("uniq_text"),
        countDistinct(substring(col(textCol), 1, 40)).as("uniq_prefix"))
      .orderBy(col(groupCol))

  /** Annotate each row with its rank within its normalized key (lowest
    * id first) as `__rn` — the building block for kept/removed stats
    * (qp49). The window partitions by the key — bucket sizes are
    * duplicate-group sizes, which stay small after exact dedup. */
  def rankByKey(docs: DataFrame, idCol: String, key: Column): DataFrame = {
    val w = Window.partitionBy(key).orderBy(col(idCol))
    docs.withColumn("__rn", row_number().over(w))
  }

  /** Keep ONLY the lowest-id row per normalized key — the actual dedup
    * operator (rankByKey exposes the underlying ranks). */
  def keepFirstByKey(docs: DataFrame, idCol: String, key: Column): DataFrame =
    rankByKey(docs, idCol, key).filter(col("__rn") === 1).drop("__rn")

  /** Exploded (id, shingle-hash) stream: posexplode the whitespace tokens,
    * then stitch n-word shingles with window `lead`s — every operator is
    * codegen'd. The previous builder (`transform(sequence(...), i =>
    * concat_ws(slice(split(text), i, n)))`) re-evaluated the token SPLIT
    * per array element on the interpreted lambda path, which alone cost
    * more than the whole rest of the qp50 pipeline at sf0.1. Short docs
    * (< n words) keep their single partial shingle (concat_ws skips the
    * null leads), matching the array builder's semantics. Duplicate
    * shingles within a doc are kept (MIN is insensitive; SimHash weighs
    * repeated features, the standard formulation). */
  private[graft] def shingleStream(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    require(n >= 1, "shingleN must be >= 1")
    val tok = docs.select(col(idCol).as("id"), posexplode(TextOps.tokens(col(textCol))))
      .withColumnsRenamed(Map("pos" -> "p", "col" -> "w"))
    if (n == 1) return tok.select(col("id"), col("w").as("s")) // tokens ARE the shingles
    val w = Window.partitionBy(col("id")).orderBy(col("p"))
    val leads = (1 until n).map(i => lead(col("w"), i).over(w))
    tok.select(col("id"), col("p"),
        concat_ws(" ", (col("w") +: leads): _*).as("s"),
        leads.last.isNotNull.as("__full"))
      .filter(col("__full") || col("p") === 0)
      .select(col("id"), col("s"))
  }

  /** Exploded (id, shingle-xxhash64) stream via the native
    * [[graft.functions.ShingleHashes]] expression — the round-16 hot
    * path for every consumer that only needs HASHES (all the dedup /
    * index operators; the string-shingle [[shingleStream]] stays for
    * the n-gram text stats and the portable SimHash, which need the
    * shingle itself). Bit-identical to
    * `shingleStream(...).select(id, xxhash64(s))` (ShingleHashesSpec)
    * but ONE projection per document: no token explode, no
    * per-document window — which removes a full Exchange+Sort of the
    * exploded token-string stream (the widest frame in the family)
    * from every shingle pipeline (guide §2.4). */
  private[graft] def shingleHashStream(docs: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame =
    docs.select(col(idCol).as("id"),
      explode(graft.functions.ShingleHashes(col(textCol), n)).as("h"))

  /** Per-document DISTINCT SORTED shingle-hash ARRAYS —
    * (id, __hs array<long>, __sz long) — the round-17 base frame for
    * every SET-semantics consumer (the whole index/incremental family
    * and the Jaccard verifies). Equivalent to
    * `shingleHashStream(...).dropDuplicates("id","h")` reassembled per
    * doc, but computed in ONE codegen'd projection per row, so
    *  - the per-doc dedup costs no (id,h) aggregate and the h-exchange
    *    downstream carries only distinct pairs (guide §2.3),
    *  - `__sz` (the distinct-shingle count the prefix filter needs) is
    *    `size(__hs)` instead of a per-id count window (guide §2.4),
    *  - the sorted verify arrays ARE the rows — no
    *    `sort_array(collect_list(h))` aggregate, no id-exchange for it.
    * NULL text emits no row (explode-of-null semantics of the old
    * stream); empty text keeps its single empty-shingle hash. The NULL
    * test runs on the TEXT, below the projection: the kernel returns
    * NULL only for NULL text, and a filter on the projected array would
    * be pushed down as a second kernel call per row. */
  private[graft] def shingleSetStream(docs: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame =
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        graft.functions.ShingleHashes.distinctSorted(col(textCol), n).as("__hs"))
      .select(col("id"), col("__hs"), size(col("__hs")).cast("long").as("__sz"))

  /** MinHash signature as k wide columns via the shingle stream + k
    * codegen'd MIN aggregates — one hash aggregate with map-side partial
    * combine. The shingle string is hashed once; the k per-permutation
    * values re-hash that fixed 8-byte long with the permutation index as
    * a leading seed word (k × 8 bytes instead of k × string bytes). */
  private def minhashWide(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int, k: Int): DataFrame = {
    val shingled = shingleHashStream(docs, idCol, textCol, shingleN)
    val aggs = (0 until k).map(j => min(xxhash64(lit(j), col("h"))).as(s"h$j"))
    shingled.groupBy(col("id")).agg(aggs.head, aggs.tail: _*)
  }

  /** LSH candidate pairs: ids sharing at least one of `bands` band-hashes
    * of a k-value MinHash signature (k = bands * rowsPerBand). Band width
    * r = k/bands trades recall for candidate noise: r=4 keeps the
    * accidental-collision rate at sim s down to s^4 per band, which is
    * what keeps bucket sizes sane as the corpus grows.
    *
    * `maxBucket` is the skew guard: a band bucket larger than it is
    * dropped BEFORE the self-join (a bucket of b identical docs is O(b²)
    * pairs — 10⁵ un-collapsed exact duplicates would be 10¹⁰ candidate
    * rows). Legit near-dup groups are orders of magnitude smaller; a
    * bucket that big means exact-dedup was skipped, and those pairs are
    * exact duplicates better handled by `exactStats`/`keepFirstByKey`.
    * The count runs in the same shuffle the join needs — no extra pass. */
  def lshCandidates(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, k: Int = 64, bands: Int = 16,
      maxBucket: Int = 4096): DataFrame = {
    require(k >= 1 && bands >= 1, "k and bands must be >= 1")
    require(k % bands == 0, "k must divide into bands")
    bandedCandidates(minhashWide(docs, idCol, textCol, shingleN, k), k, bands, maxBucket)
  }

  /** Band a k-column MinHash signature frame and self-join the capped
    * buckets into candidate id pairs (see lshCandidates). */
  private def bandedCandidates(sig: DataFrame, k: Int, bands: Int,
      maxBucket: Int): DataFrame = {
    require(k >= 1 && bands >= 1, "k and bands must be >= 1")
    require(k % bands == 0, "k must divide into bands")
    val r = k / bands
    val bandCols = (0 until bands).map(b =>
      xxhash64((lit(b) +: (0 until r).map(i => col(s"h${b * r + i}"))): _*))
    val banded = sig
      .select(col("id"), posexplode(array(bandCols: _*)))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "bh"))
    val capped = cappedBuckets(banded, Seq(col("band"), col("bh")), maxBucket)
    val left = capped.select(col("id").as("id_a"), col("band"), col("bh"))
    val right = capped.select(col("id").as("id_b"), col("band"), col("bh"))
    left.join(right, Seq("band", "bh"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
  }

  /** Near-duplicate pairs: LSH candidates verified with exact Jaccard on
    * the distinct shingle sets. The verify is array-free: |A∩B| is a join
    * of the distinct shingle stream with itself restricted to candidate
    * pairs, |A∪B| = |A|+|B|−|A∩B| from per-doc distinct counts — plain
    * hash joins and aggregates, no wide shingle arrays shuffled and no
    * set-op lambdas. The threshold compare is exact integer math
    * (`den*|∩| >= num*|∪|`), the reported sim a single double division —
    * deterministic across engines. Candidate pairs with zero shared
    * shingles drop out of the inner join, which the threshold (num ≥ 1)
    * would discard anyway. */
  def nearDuplicatePairs(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, k: Int = 64, bands: Int = 16,
      thresholdNum: Int = 1, thresholdDen: Int = 2,
      maxBucket: Int = 4096): DataFrame = {
    require(thresholdNum >= 1, "thresholdNum must be >= 1")
    require(thresholdDen >= 1, "thresholdDen must be >= 1")
    // ONE per-doc distinct shingle-hash ARRAY frame (round 17 —
    // shingleSetStream: the per-doc dedup, the set size AND the sorted
    // verify arrays all come out of one codegen'd projection; MIN is
    // duplicate-insensitive, so the signature over the distinct set is
    // equivalent) feeds both the MinHash signature aggregate and the
    // verify joins — persisted so the scan + shingle hashing run once
    // for its three consumers. The hash-for-string substitution keeps
    // round 16's 2⁻⁶⁴-collision caveat (see ngramJaccardPairs).
    val sets = PipelineCaches.track(
      shingleSetStream(docs, idCol, textCol, shingleN)
        .persist(StorageLevel.MEMORY_AND_DISK))
    val stream = sets.select(col("id"), explode(col("__hs")).as("h"))
    val aggs = (0 until k).map(j => min(xxhash64(lit(j), col("h"))).as(s"h$j"))
    val sig = stream.groupBy(col("id")).agg(aggs.head, aggs.tail: _*)
    val cands = bandedCandidates(sig, k, bands, maxBucket)
    jaccardVerify(cands, sets, thresholdNum, thresholdDen)
  }

  /** Exact-Jaccard verification of candidate id pairs against the
    * per-doc distinct sorted shingle-hash arrays (round 17 — the same
    * two-equijoin + native merge-count design as ngramJaccardPairs'
    * verify: the arrays ship once per candidate id and
    * SortedIntersectCount is allocation-free per pair, where the old
    * row-join verify shuffled |cands|·|doc| hash rows twice and paid a
    * per-pair count aggregate). `sets` is a (id, __hs, __sz) frame from
    * [[shingleSetStream]]. A zero-intersection candidate survives the
    * equijoins but fails the threshold filter (num ≥ 1) exactly as it
    * dropped out of the old inner intersection join. */
  private def jaccardVerify(cands: DataFrame, sets: DataFrame,
      thresholdNum: Int, thresholdDen: Int): DataFrame = {
    cands
      .join(sets.select(col("id").as("id_a"), col("__hs").as("__ha"),
        col("__sz").as("__sza")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("__hs").as("__hb"),
        col("__sz").as("__szb")), "id_b")
      .withColumn("__inter",
        graft.functions.SetOps.sortedIntersectCount(col("__ha"), col("__hb")))
      .withColumn("__uni", col("__sza") + col("__szb") - col("__inter"))
      .filter(col("__inter") * thresholdDen >= col("__uni") * thresholdNum)
      .select(col("id_a"), col("id_b"),
        (col("__inter").cast("double") / col("__uni")).as("sim"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Exact n-gram Jaccard near-duplicate pairs — the exact counterpart
    * of the MinHash-banded path, for when approximate recall is not
    * acceptable. The candidate join is the distributed prefix-filtered
    * all-pairs design (Vernica et al., SIGMOD'10; PPJoin, Xiao et al.
    * WWW'08): under a global rarest-first shingle order (ascending doc
    * frequency, hash tiebreak), each doc indexes only its first
    * |d| − ceil(t·|d|) + 1 shingles. Any pair with Jaccard ≥ t must
    * intersect inside both prefixes (its intersection has ≥ ceil(t·|d|)
    * elements, more than either suffix holds), so completeness is a
    * theorem, not a recall argument — and stop-shingles land in
    * suffixes, never in the index, which is what keeps posting lists
    * (and the O(p²) self-join) tiny as the corpus grows. A length
    * filter (t·|A| ≤ |B| ∧ t·|B| ≤ |A|, integer math) prunes candidates
    * in the join itself. `maxPosting` stays as a skew backstop for
    * adversarial corpora (≥ maxPosting docs sharing their RAREST
    * shingle — i.e. mass exact-duplication better handled by
    * exactStats first). Verification runs on the full distinct shingle
    * stream, so every reported similarity is exact. */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, thresholdNum: Int = 1, thresholdDen: Int = 2,
      maxPosting: Int = 4096): DataFrame = {
    require(thresholdNum >= 1, "thresholdNum must be >= 1")
    require(thresholdDen >= 1 && thresholdDen >= thresholdNum,
      "threshold must satisfy 0 < num/den <= 1")
    // 8-byte hash keys instead of shingle strings through every join.
    // The explicit repartition pins ONE exchange shared by all three
    // consumers (document frequency, prefix ranking, signature arrays) —
    // without it each branch re-runs the shingle windows from the scan
    // (profiled at ~3 s per extra branch at sf0.1, the dominant cost of
    // the whole operator). The per-doc shingle DEDUP runs AFTER the hash
    // repartition (round 10): hashing first drops the string column
    // before any exchange, and HashPartitioning(h) satisfies the (id, h)
    // clustering, so the dropDuplicates aggregate rides the pinned
    // exchange instead of adding a string-keyed one of its own (the old
    // `.distinct()`-before-hash shape shuffled every raw shingle
    // STRING once more). Same 2⁻⁶⁴-collision caveat as the verify
    // arrays below. The deduped stream is PERSISTED rather than left to
    // ReuseExchange (round 11): under AQE the three consumers coalesce
    // the exchange independently, and a missed reuse re-ran the whole
    // shingle pipeline for that branch — the r8→r10 run-to-run drift on
    // this entry (isolated 2.7 s typical with ~5.7 s outliers) was
    // exactly this nondeterminism. The cached frame is id+hash only —
    // |shingles| × 16 bytes, corpus-shaped but column-pruned — and it
    // outlives this call (the returned lazy frame reads it), so it is
    // registered with [[PipelineCaches]] for the caller's post-action
    // release instead of leaking for the session (VERDICT r11 #1).
    // round 17: the per-doc distinct sorted hash ARRAYS are computed in
    // one codegen'd projection (shingleSetStream) and persisted as the
    // base frame — the h-exchange below carries only distinct rows, the
    // per-doc size is size(__hs) instead of a count window, and the
    // verify arrays ARE the cached rows (no sort_array(collect_list)).
    val sets = PipelineCaches.track(
      shingleSetStream(docs, idCol, textCol, shingleN)
        .persist(StorageLevel.MEMORY_AND_DISK))
    val hashes = PipelineCaches.track(
      sets.select(col("id"), col("__sz"), explode(col("__hs")).as("h"))
        .repartition(col("h"))
        .persist(StorageLevel.MEMORY_AND_DISK))
    val dfreq = hashes.groupBy(col("h")).agg(count(lit(1)).as("__df"))
    val ranked = hashes.join(dfreq, "h")
      .withColumn("__rk", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("__df"), col("h"))))
    // ceil(num·sz/den) via integer math; positive operands, so the
    // cast-truncation is a floor
    val ceilT = ((col("__sz") * thresholdNum + thresholdDen - 1) / thresholdDen).cast("long")
    val prefix = ranked.filter(col("__rk") <= col("__sz") - ceilT + 1)
      .select(col("id"), col("h"), col("__sz"))
    val index = cappedBuckets(prefix, Seq(col("h")), maxPosting)
    val cands = index.select(col("h"), col("id").as("id_a"), col("__sz").as("__sza"))
      .join(index.select(col("h"), col("id").as("id_b"), col("__sz").as("__szb")), "h")
      .filter(col("id_a") < col("id_b") &&
        col("__sza") * thresholdNum <= col("__szb") * thresholdDen &&
        col("__szb") * thresholdNum <= col("__sza") * thresholdDen)
      .select("id_a", "id_b")
      .distinct()
    // Verify with per-pair array intersection rather than the MinHash
    // path's row joins: when the corpus defeats prefix pruning (a tiny
    // shared vocabulary makes every pair a candidate — the synthetic
    // fixture does exactly this), the row-based verify shuffles
    // |cands|·|doc| rows twice, while shipping each doc's shingle-hash
    // array once per candidate does the same work in two equijoins and
    // a native merge count per row (SortedIntersectCount — the builtin
    // array_intersect allocates a hash set + output array per pair,
    // profiled at ~10 s for 440k candidates; the codegen'd merge over
    // the sorted signatures is allocation-free). Arrays stay
    // |doc|-bounded. 64-bit hash collisions could overcount one
    // intersection by 1 in ~2^-64 of pairs — far below any threshold
    // edge in practice.
    cands
      .join(sets.select(col("id").as("id_a"), col("__hs").as("__ha"), col("__sz").as("__sza")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("__hs").as("__hb"), col("__sz").as("__szb")), "id_b")
      .withColumn("__inter", graft.functions.SetOps.sortedIntersectCount(col("__ha"), col("__hb")))
      .withColumn("__uni", col("__sza") + col("__szb") - col("__inter"))
      .filter(col("__inter") * thresholdDen >= col("__uni") * thresholdNum)
      .select(col("id_a"), col("id_b"),
        (col("__inter").cast("double") / col("__uni")).as("sim"))
      // pin a shuffle between the verify stage and the final sort: the
      // range sort samples its child in a separate job, and without an
      // exchange here that sampling re-executes the whole
      // candidate-verify stage (broadcast joins + merge counts over
      // every candidate) a second time — measured ~2× the operator's
      // cost at sf0.1. The exchange carries only the RESULT pairs.
      .repartition(col("id_a"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Incremental (cross-snapshot) dedup verdicts: classify each NEW
    * batch document against an existing corpus WITHOUT re-pairing the
    * corpus with itself — the continuous-ingestion shape at scale,
    * where the corpus is orders of magnitude larger than each arriving
    * batch and must only be read. Tiers, in precedence order:
    *
    *  - `exact`: the normalized-text fingerprint already exists in the
    *    corpus — an equijoin on a 16-byte key (broadcast- or
    *    bloom-able at scale; the corpus side reduces to its distinct
    *    fingerprints once and can be a maintained sketch);
    *  - `near`: trigram Jaccard ≥ num/den against SOME corpus doc.
    *    Candidates come from the same prefix-filter theorem as
    *    [[ngramJaccardPairs]] — the lemma needs only ONE total order
    *    shared by both sides (here rarest-first by document frequency
    *    over the UNION), and it is pairwise, so it holds unchanged for
    *    cross-corpus pairs: a batch×corpus pair at Jaccard ≥ t must
    *    share a shingle inside both prefixes. The index join is
    *    batch-prefix × corpus-prefix — no corpus self-join anywhere;
    *  - `new` otherwise.
    *
    * Cap visibility (ADVICE r12 #3): over-`maxPosting` posting buckets
    * are dropped before the candidate join, so a batch doc whose ONLY
    * witness shingle is that common is classified from its remaining
    * prefix shingles — audit what a cap removed with [[overCapBuckets]]
    * over the prefix stream, or use the indexed path
    * ([[buildCorpusShingleIndex]] → [[incrementalNearDupIndexed]]) which
    * counts and logs dropped buckets at build time. This one-shot form
    * stays single-action (no extra job for the count).
    *
    * Output: (id, verdict) for every batch document, ordered by id. */
  def incrementalNearDup(corpus: DataFrame, batch: DataFrame,
      idCol: String, textCol: String, shingleN: Int = 3,
      thresholdNum: Int = 1, thresholdDen: Int = 2,
      maxPosting: Int = 4096): DataFrame = {
    require(thresholdNum >= 1 && thresholdDen >= thresholdNum,
      "threshold must satisfy 0 < num/den <= 1")
    val exact = batch
      .select(col(idCol).as("id"),
        graft.pipeline.TextOps.fingerprint(col(textCol)).as("__fp"))
      .join(corpus.select(
          graft.pipeline.TextOps.fingerprint(col(textCol)).as("__fp"))
        .distinct(), Seq("__fp"), "left_semi")
      .select(col("id"))
    // per-side per-doc distinct shingle ARRAYS (round 17 — one codegen'd
    // projection each; the verify arrays with no collect_list aggregate
    // and no per-doc dedup/size passes) plus each side's exploded hash
    // stream behind one pinned exchange, all persisted for their
    // multiple consumers (the qp63 discipline — see ngramJaccardPairs
    // for why persist, not ReuseExchange); registered for the caller's
    // post-action release
    val sb = PipelineCaches.track(
      shingleSetStream(batch, idCol, textCol, shingleN)
        .persist(StorageLevel.MEMORY_AND_DISK))
    val sc = PipelineCaches.track(
      shingleSetStream(corpus, idCol, textCol, shingleN)
        .persist(StorageLevel.MEMORY_AND_DISK))
    def hashed(sets: DataFrame): DataFrame =
      sets.select(col("id"), col("__sz"), explode(col("__hs")).as("h"))
        .repartition(col("h"))
    val hb = PipelineCaches.track(
      hashed(sb).persist(StorageLevel.MEMORY_AND_DISK))
    val hc = PipelineCaches.track(
      hashed(sc).persist(StorageLevel.MEMORY_AND_DISK))
    val dfreq = hb.select(col("h")).unionAll(hc.select(col("h")))
      .groupBy(col("h")).agg(count(lit(1)).as("__df"))
    def prefix(hs: DataFrame): DataFrame = {
      val ranked = hs.join(dfreq, "h")
        .withColumn("__rk", row_number().over(
          Window.partitionBy(col("id")).orderBy(col("__df"), col("h"))))
      val ceilT = ((col("__sz") * thresholdNum + thresholdDen - 1) / thresholdDen).cast("long")
      ranked.filter(col("__rk") <= col("__sz") - ceilT + 1)
        .select(col("id"), col("h"), col("__sz"))
    }
    val ib = cappedBuckets(prefix(hb), Seq(col("h")), maxPosting)
    val ic = cappedBuckets(prefix(hc), Seq(col("h")), maxPosting)
    val candPairs = ib.select(col("h"), col("id").as("id_b"), col("__sz").as("__szb"))
      .join(ic.select(col("h"), col("id").as("id_c"), col("__sz").as("__szc")), "h")
      .filter(col("__szb") * thresholdNum <= col("__szc") * thresholdDen &&
        col("__szc") * thresholdNum <= col("__szb") * thresholdDen)
      .select("id_b", "id_c")
      .distinct()
    val near = candPairs
      .join(sb.select(col("id").as("id_b"), col("__hs").as("__ha"),
        col("__sz").as("__sza")), "id_b")
      .join(sc.select(col("id").as("id_c"), col("__hs").as("__hb"),
        col("__sz").as("__szb")), "id_c")
      .withColumn("__inter",
        graft.functions.SetOps.sortedIntersectCount(col("__ha"), col("__hb")))
      .withColumn("__uni", col("__sza") + col("__szb") - col("__inter"))
      .filter(col("__inter") * thresholdDen >= col("__uni") * thresholdNum)
      .select(col("id_b").as("id"))
      .distinct()
    batch.select(col(idCol).as("id"))
      .join(exact.withColumn("__ex", lit(true)), Seq("id"), "left")
      .join(near.withColumn("__nr", lit(true)), Seq("id"), "left")
      .select(col("id"),
        when(col("__ex").isNotNull, lit("exact"))
          .when(col("__nr").isNotNull, lit("near"))
          .otherwise(lit("new")).as("verdict"))
      .orderBy(col("id"))
  }

  /** Audit hook for the `maxPosting`/`maxBucket` skew caps (the "no
    * silent caps" discipline — ADVICE r12 #3): the buckets a capped
    * operator DROPPED, as (key..., bucket_size) rows. Run it on the same
    * keyed stream the operator buckets (e.g. the prefix postings for
    * [[incrementalNearDup]], the band hashes for [[lshCandidates]]) to
    * see what the cap cost — a batch doc whose only candidate witness
    * lives in an over-cap bucket is classified from the remaining
    * buckets only. [[buildCorpusShingleIndex]] computes and logs this
    * count at build time; the one-shot lazy operators leave it to this
    * hook so they stay single-action. */
  def overCapBuckets(df: DataFrame, keys: Seq[Column], maxBucket: Int): DataFrame =
    df.groupBy(keys: _*).agg(count(lit(1)).as("bucket_size"))
      .filter(col("bucket_size") > maxBucket)

  /** Materialize every `frames` cache AND count the `droppedBuckets`
    * rows in ONE action: each branch contributes a tagged 1-row-per-row
    * stream, the aggregate groups by the tag, and the dropped count is
    * the tag-1 row (0 when absent). Replaces a materialize-then-count
    * pair of jobs per build/append (round 16 — per-action scheduling is
    * the dominant fixture-scale cost of the eager steps, and at cluster
    * scale one fewer pass over the cached stream). */
  private def materializeAndCountDropped(frames: Seq[DataFrame],
      droppedBuckets: DataFrame): Long = {
    val tagged = frames.map(_.select(lit(0).as("__t"))) :+
      droppedBuckets.select(lit(1).as("__t"))
    tagged.reduce(_.unionAll(_))
      .groupBy(col("__t")).agg(count(lit(1)).as("__c"))
      .collect().collectFirst { case r if r.getInt(0) == 1 => r.getLong(1) }
      .getOrElse(0L)
  }

  /** A reusable corpus-side dedup index: everything
    * [[incrementalNearDupIndexed]] needs from the corpus, persisted and
    * MATERIALIZED once, so per-batch verdict calls read cached frames
    * and never re-scan or re-shingle the corpus (VERDICT r12 missing #1:
    * [[incrementalNearDup]] rebuilds both sides' indexes inside every
    * call — fine for a one-shot comparison, wrong shape for continuous
    * ingestion where the corpus is 1000× each batch).
    *
    * Frames (all persisted, registered with [[PipelineCaches]]):
    *  - `fps`     distinct normalized-text fingerprints (exact tier);
    *  - `dfreq`   (h, __df) corpus document frequency per shingle hash —
    *              THE global prefix order is (corpus df, hash), fixed at
    *              build time, batch-independent (see the lemma note on
    *              [[incrementalNearDupIndexed]]);
    *  - `prefix`  (id, h, __sz) capped corpus prefix postings;
    *  - `arrs`    (id, __hs, __sz) per-doc sorted shingle-hash arrays
    *              for the exact-Jaccard verify.
    *
    * At 100 TB these four are corpus-shaped but column-pruned (hashes
    * and 16-byte fingerprints, not text); the production deployment
    * writes them to a bucketed table partitioned by `h` (postings) and
    * `id` (arrays) instead of a session cache — the consuming plan shape
    * is identical. `droppedPostings` records how many over-`maxPosting`
    * prefix buckets the cap removed (0 on a healthy corpus; a large
    * value means mass exact-duplication that [[exactStats]] should have
    * collapsed first). */
  final case class CorpusShingleIndex private[pipeline] (
      fps: DataFrame, dfreq: DataFrame, prefix: DataFrame, arrs: DataFrame,
      shingleN: Int, thresholdNum: Int, thresholdDen: Int,
      maxPosting: Int, droppedPostings: Long,
      private[pipeline] val cachedPieces: Seq[DataFrame]) {
    /** Drop the index's cached blocks — every persisted piece,
      * including append deltas (after an append the public frames are
      * lazy UNIONS over the pieces; unpersisting a union is a no-op, so
      * release goes through the piece list). [[PipelineCaches]] also
      * tracks the pieces, so bench/verify teardown releases an
      * un-released index. */
    def release(blocking: Boolean = false): Unit =
      cachedPieces.foreach(PipelineCaches.unpersist(_, blocking))
  }

  /** Build the [[CorpusShingleIndex]] for `corpus` — EAGER: each frame
    * is persisted and counted here, so the build cost is paid exactly
    * once and every subsequent [[incrementalNearDupIndexed]] call is
    * index-read-only (the plan pin in Round13PipelineSpec: a verdict
    * plan scans only batch-side files). The intermediate (id, hash)
    * stream is dropped after the build — only the four index frames
    * stay cached.
    *
    * The index is a SNAPSHOT of `corpus` as of this call. `fps` and
    * `arrs` sit on a path-free leaf over their own RDDs
    * (`GraftSqlBridge.snapshot`), and `dfreq` / `prefix` derive from
    * `arrs`, so no index plan names the corpus's files. That matters
    * when the corpus is a table later written to: every file write
    * (an engine INSERT, a parquet append) ends in
    * `CacheManager.recacheByPath` on the written directory, which clears
    * EVERY cached plan reading it — an index planned straight off the
    * corpus scan would silently lose all four caches and re-shingle the
    * whole grown corpus on its next read. The snapshot keeps its RDD
    * lineage, pinned to the files listed at build time: a released or
    * lost cache recomputes the build-time rows (while those files
    * exist — a compaction deletes them; `writeIndexTables` /
    * `loadCorpusShingleIndex` is the durable form). */
  def buildCorpusShingleIndex(corpus: DataFrame, idCol: String,
      textCol: String, shingleN: Int = 3, thresholdNum: Int = 1,
      thresholdDen: Int = 2, maxPosting: Int = 4096): CorpusShingleIndex = {
    require(thresholdNum >= 1 && thresholdDen >= thresholdNum,
      "threshold must satisfy 0 < num/den <= 1")
    def persistTracked(df: DataFrame): DataFrame =
      PipelineCaches.track(df.persist(StorageLevel.MEMORY_AND_DISK))
    val fps = persistTracked(GraftSqlBridge.snapshot(corpus
      .select(graft.pipeline.TextOps.fingerprint(col(textCol)).as("__fp"))
      .distinct()))
    // Round 17: the verify ARRAYS are computed per row (one codegen'd
    // projection — see shingleSetStream) and double as the base frame
    // the exploded hash stream derives from, so the build pays no
    // per-doc dedup aggregate, no per-doc size window and no
    // sort_array(collect_list) aggregate, and the pinned h-exchange
    // carries only distinct (id, h, __sz) rows (guide §2.3/§2.4).
    val arrs = persistTracked(GraftSqlBridge.snapshot(
      shingleSetStream(corpus, idCol, textCol, shingleN)))
    // build-scoped: consumed by the derived frames below, then dropped —
    // the same pinned-exchange + persist discipline as
    // ngramJaccardPairs, but scoped to the build instead of the session
    val hc = arrs
      .select(col("id"), col("__sz"), explode(col("__hs")).as("h"))
      .repartition(col("h"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val dfreq = persistTracked(
      hc.groupBy(col("h")).agg(count(lit(1)).as("__df")))
    // ONE id-clustered pass feeds prefix AND cap audit: the join + the
    // per-doc rank window run once into a build-scoped cache (__sz
    // rides along from the arrays — no count window).
    val ranked = hc.join(dfreq, "h")
      .withColumn("__rk", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("__df"), col("h"))))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val ceilT = ((col("__sz") * thresholdNum + thresholdDen - 1) / thresholdDen)
      .cast("long")
    val rawPrefix = ranked.filter(col("__rk") <= col("__sz") - ceilT + 1)
      .select(col("id"), col("h"), col("__sz"))
    val prefix = persistTracked(cappedBuckets(rawPrefix, Seq(col("h")), maxPosting))
    // ONE materialization action fills every cache: the four index
    // frames union into a single count whose branches share hc / dfreq /
    // ranked through the BlockManager's per-block locking — at fixture
    // scale the build's cost was dominated by per-action scheduling
    // (five sequential jobs), not data (measured: 5 actions ≈ 2× the
    // one-action qp93 on the same text volume). Round 16: the cap-audit
    // count (ADVICE r12 #3 "no silent caps") rides the SAME action as a
    // tagged fifth branch — one row per dropped bucket — instead of its
    // own follow-up job. The only work ahead of it is what the `fps`
    // snapshot planned: under AQE, the fingerprint distinct's shuffle
    // stage (`arrs` has no exchange, so its snapshot runs nothing).
    val dropped = materializeAndCountDropped(Seq(fps, dfreq, prefix, arrs),
      overCapBuckets(rawPrefix, Seq(col("h")), maxPosting))
    if (dropped > 0)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"corpus shingle index: dropped $dropped over-cap posting " +
          s"bucket(s) (> $maxPosting docs sharing a prefix shingle) — " +
          "run exact dedup first if this is large")
    ranked.unpersist()
    hc.unpersist()
    CorpusShingleIndex(fps, dfreq, prefix, arrs, shingleN, thresholdNum,
      thresholdDen, maxPosting, dropped,
      cachedPieces = Seq(fps, dfreq, prefix, arrs))
  }

  /** Fold an ingested batch INTO the index — the other half of the
    * continuous-ingestion loop (classify batch → ingest batch →
    * classify the next batch against corpus ∪ batch). Returns a new
    * [[CorpusShingleIndex]] whose frames are the old cached frames
    * UNION small cached batch deltas; nothing corpus-sized is rebuilt,
    * reshuffled or copied — an append costs O(|batch|).
    *
    * The ORDER STAYS FROZEN: the batch's prefix is computed under the
    * build-time (corpus df, hash) order (batch-only shingles at df 0),
    * and `dfreq` is NOT updated. That is a correctness requirement, not
    * a shortcut — the prefix-filter lemma needs every indexed doc's
    * prefix chosen under ONE fixed total order, and re-ranking existing
    * postings under refreshed dfs would mean rebuilding the corpus side
    * (exactly what an append must not do). The cost is selectivity, not
    * correctness: a shingle that becomes common AFTER the build keeps
    * its old rank, so prefixes pruned under the stale order admit more
    * candidates than a fresh build would — the exact verify still
    * decides every verdict. Production cadence: append per batch,
    * rebuild (refreshing the order and re-tightening the caps) per
    * snapshot compaction. The posting cap is likewise enforced per
    * append (each append's own buckets are capped; accumulated bucket
    * growth across appends is re-tightened at rebuild — re-capping the
    * union here would re-window the corpus-sized posting stream,
    * defeating the append).
    *
    * Chained appends stack lazy unions of cached pieces — fine for the
    * batches-per-rebuild cadence; hundreds of appends without a rebuild
    * would want the bucketed-table deployment (SCALE.md §Dedup).
    *
    * O(|batch|) holds because the built index is a path-free snapshot
    * (see [[buildCorpusShingleIndex]]): INSERTing the batch into the
    * corpus TABLE afterwards — the usual next step — triggers Spark's
    * `recacheByPath` on that table's directory, which no index piece
    * reads, so the next call still finds every piece cached. The
    * deltas read only the batch and the index. */
  def appendToCorpusShingleIndex(index: CorpusShingleIndex, batch: DataFrame,
      idCol: String, textCol: String): CorpusShingleIndex =
    appendWithDeltas(index, batchInput(index, batch, idCol, textCol),
      (_, _) => Nil)._1

  /** Classify AND ingest in one call — the per-batch step of the
    * continuous-ingestion loop. The batch's shingle/rank/fingerprint
    * working set is computed ONCE and shared by the verdict pipeline
    * and the index deltas (separate classify-then-append calls re-ran
    * it; at fixture scale that one batch pipeline is ~2 s of the qp103
    * entry). Returns the verdict frame, already MATERIALIZED, plus the
    * grown index: the verdicts are persisted (MEMORY_AND_DISK, tracked
    * by [[PipelineCaches]]) and filled by the same single action that
    * fills the index deltas, so the caller's reads of them — the
    * verdict list, a per-source count, the INSERT that stores the batch
    * — scan one small cache instead of each re-running the exact semi
    * join, the prefix candidate join, the array verify join and the
    * final sort. The batch working set is released before this returns.
    *
    * The verdicts are judged against the index snapshot (build-time
    * corpus plus appended batches), not against the corpus table's
    * current files: writing the batch into that table — even by an
    * INSERT that reads this verdict frame — neither invalidates the
    * index caches (no index plan reads the table's path, so
    * `recacheByPath` passes them by) nor changes a verdict. A released
    * verdict cache recomputes the same rows from the batch and the
    * index pieces. A loaded index is the exception: overwriting its
    * tables (`writeIndexTables`) clears every cache planned over them,
    * this one included, so act on the verdicts before a rebuild. */
  def classifyAndAppend(index: CorpusShingleIndex, batch: DataFrame,
      idCol: String, textCol: String): (DataFrame, CorpusShingleIndex) = {
    val in = batchInput(index, batch, idCol, textCol)
    // Round 16: the verdict pipeline reads the append's PERSISTED
    // prefix/arrays deltas instead of re-running the same window filter
    // and sort_array aggregate over the working set a second time —
    // the two legs are textually identical frames, so sharing the
    // materialized ones is a pure recompute removal (guide §1.2 "don't
    // compute things you throw away").
    val (grown, filled) = appendWithDeltas(index, in,
      (prefixDelta, arrsDelta) => Seq(verdictsFrom(index, in, prefixDelta, arrsDelta)))
    (filled.head, grown)
  }

  /** PERSIST the index as bucketed catalog tables — the production
    * deployment form the build-time scaladoc promised (round 14;
    * VERDICT r13 missing #2): a session cache dies with its driver, so
    * a new session previously rebuilt the whole corpus side from
    * scratch. The four frames land as parquet tables bucketed on their
    * JOIN keys — postings and document frequency by shingle hash `h`,
    * verify arrays by `id`, fingerprints by `__fp` — so a consumer's
    * candidate/verify joins read pre-clustered buckets instead of
    * re-shuffling the corpus-shaped side, and a 1000-executor cluster
    * scans only the buckets its batch keys hash into. A fifth one-row
    * `_meta` table carries the build parameters AND `droppedPostings`,
    * so the loaded index preserves the whole contract (including the
    * cap-validity audit the oracled entries assert on).
    *
    * Rebuild cadence (the cap re-tightening story at the append
    * scaladoc): rebuild = [[buildCorpusShingleIndex]] over the
    * compacted corpus — which re-ranks under fresh document
    * frequencies and re-enforces `maxPosting` over the COMBINED
    * postings that chained appends only cap per-batch — then one
    * overwrite call here. Round14PipelineSpec demonstrates the
    * re-tightening end-to-end. */
  def writeIndexTables(index: CorpusShingleIndex, namePrefix: String,
      buckets: Int = 32): Unit = {
    require(buckets >= 1, "bucket count must be >= 1")
    // unqualified names only (ADVICE r14 #2): clearStale below derives
    // the managed location from the CURRENT database — a qualified
    // prefix ("db.idx") would make the path guess wrong, either
    // no-op'ing the cleanup or deleting an unrelated directory named
    // like the qualified string; callers select the database via
    // spark.catalog.setCurrentDatabase instead
    require(!namePrefix.contains('.'),
      s"index table prefix must be unqualified (got '$namePrefix'); " +
        "set the current database instead of qualifying the prefix")
    val spark = index.fps.sparkSession
    // an in-memory catalog (the local default) forgets tables at
    // process exit but the managed LOCATION survives on disk, and
    // overwrite-saveAsTable refuses a location it has no table for —
    // drop the stale directory when the catalog doesn't know the name
    // (a persistent metastore never hits this branch: overwrite drops
    // table + location together)
    def clearStale(table: String): Unit =
      if (!spark.catalog.tableExists(table)) {
        // derive the managed location from the CURRENT database's
        // locationUri, not the bare warehouse dir — a non-default
        // database stores tables under <warehouse>/<db>.db/<table>,
        // and guessing the wrong path would no-op the cleanup and
        // reproduce the very LOCATION_ALREADY_EXISTS failure this
        // guard exists to prevent (review r14 #4)
        val dbLoc = spark.catalog.getDatabase(spark.catalog.currentDatabase)
          .locationUri
        val path = new org.apache.hadoop.fs.Path(
          new org.apache.hadoop.fs.Path(dbLoc), table.toLowerCase)
        val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(path)) { fs.delete(path, true); () }
      }
    import spark.implicits._
    val metaDf = Seq((index.shingleN, index.thresholdNum, index.thresholdDen,
        index.maxPosting, index.droppedPostings))
      .toDF("shingle_n", "threshold_num", "threshold_den",
        "max_posting", "dropped_postings")
    // the five tables are independent — run the writes CONCURRENTLY
    // from a small driver pool (optimization guide §2.6 "overlap
    // independent jobs"): each write's task tail leaves executors idle
    // that the next write's scan/sort tasks back-fill; measured ~35 %
    // off the qp105 write phase at sf0.1, and the same overlap holds on
    // a cluster (the writes read disjoint cached frames and commit to
    // disjoint table locations; the catalog calls are synchronized
    // inside Spark). Failures propagate: any write error fails the
    // deployment loudly rather than half-writing in the background.
    val jobs: Seq[(String, () => Unit)] = Seq(
      (s"${namePrefix}_fps", () => index.fps.write.mode("overwrite")
        .format("parquet").bucketBy(buckets, "__fp")
        .saveAsTable(s"${namePrefix}_fps")),
      (s"${namePrefix}_dfreq", () => index.dfreq.write.mode("overwrite")
        .format("parquet").bucketBy(buckets, "h").sortBy("h")
        .saveAsTable(s"${namePrefix}_dfreq")),
      (s"${namePrefix}_prefix", () => index.prefix.write.mode("overwrite")
        .format("parquet").bucketBy(buckets, "h")
        .saveAsTable(s"${namePrefix}_prefix")),
      (s"${namePrefix}_arrs", () => index.arrs.write.mode("overwrite")
        .format("parquet").bucketBy(buckets, "id")
        .saveAsTable(s"${namePrefix}_arrs")),
      (s"${namePrefix}_meta", () => metaDf.write.mode("overwrite")
        .format("parquet").saveAsTable(s"${namePrefix}_meta")))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(jobs.size)
    try {
      val futures = jobs.map { case (table, run) =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = { clearStale(table); run() }
        })
      }
      // get() rethrows the worker's exception (unwrapped below)
      futures.foreach { f =>
        try f.get()
        catch {
          case e: java.util.concurrent.ExecutionException =>
            throw e.getCause
        }
      }
    } finally pool.shutdown()
  }

  /** Load a [[writeIndexTables]] deployment back as a fully-functional
    * index — in THIS session or any later one sharing the warehouse.
    * The frames are plain (uncached) bucketed-table reads: every
    * verdict call streams from disk through the bucket-pruned joins,
    * which is the steady-state shape on a cluster (the OS page cache,
    * not executor memory, absorbs re-reads). A driver that classifies
    * many batches back-to-back can still `.persist()` the hot frames —
    * but correctness and plan shape need nothing cached, which is what
    * the qp105 entry and its plan pin prove. */
  def loadCorpusShingleIndex(spark: org.apache.spark.sql.SparkSession,
      namePrefix: String): CorpusShingleIndex = {
    // deployment-contract validation (VERDICT r14 #6): the write is five
    // saveAsTable calls with no transaction, so a half-completed write,
    // a table someone re-wrote without bucketing, or tables from an
    // incompatible layout must fail HERE with a purposeful error — not
    // as a downstream AnalysisException mid-classify or, worse, as
    // silently wrong verdicts off a re-shuffled corpus side.
    val expected = Seq(
      (s"${namePrefix}_fps", Some("__fp")),
      (s"${namePrefix}_dfreq", Some("h")),
      (s"${namePrefix}_prefix", Some("h")),
      (s"${namePrefix}_arrs", Some("id")),
      (s"${namePrefix}_meta", None))
    val missing = expected.collect {
      case (t, _) if !spark.catalog.tableExists(t) => t
    }
    if (missing.nonEmpty)
      throw new IllegalStateException(
        s"corpus shingle index '$namePrefix' is incomplete: missing " +
          s"table(s) ${missing.mkString(", ")} — a half-finished " +
          "writeIndexTables? rebuild and re-write the index")
    expected.foreach { case (t, key) =>
      key.foreach { k =>
        // DESCRIBE EXTENDED is the public, version-stable way to read
        // the bucket spec back (the catalog API doesn't expose it)
        val desc = spark.sql(s"DESCRIBE EXTENDED $t").collect()
          .map(r => r.getString(0) -> Option(r.getString(1)).getOrElse(""))
          .toMap
        val bucketCols = desc.getOrElse("Bucket Columns", "")
        if (!bucketCols.contains(s"`$k`"))
          throw new IllegalStateException(
            s"index table $t is not bucketed on `$k` (found " +
              s"${if (bucketCols.isEmpty) "no bucketing" else bucketCols}) " +
              "— written by an incompatible graft version or overwritten " +
              "out-of-band; re-run writeIndexTables")
      }
    }
    val metaDf = spark.table(s"${namePrefix}_meta")
    val metaCols = Set("shingle_n", "threshold_num", "threshold_den",
      "max_posting", "dropped_postings")
    if (!metaCols.subsetOf(metaDf.columns.toSet))
      throw new IllegalStateException(
        s"index meta table ${namePrefix}_meta lacks column(s) " +
          s"${(metaCols -- metaDf.columns.toSet).mkString(", ")} — " +
          "written by an incompatible graft version")
    val metaRows = metaDf.collect()
    if (metaRows.length != 1)
      throw new IllegalStateException(
        s"index meta table ${namePrefix}_meta has ${metaRows.length} " +
          "row(s), expected exactly 1 — corrupt deployment")
    val meta = metaRows(0)
    CorpusShingleIndex(
      fps = spark.table(s"${namePrefix}_fps"),
      dfreq = spark.table(s"${namePrefix}_dfreq"),
      prefix = spark.table(s"${namePrefix}_prefix"),
      arrs = spark.table(s"${namePrefix}_arrs"),
      shingleN = meta.getAs[Int]("shingle_n"),
      thresholdNum = meta.getAs[Int]("threshold_num"),
      thresholdDen = meta.getAs[Int]("threshold_den"),
      maxPosting = meta.getAs[Int]("max_posting"),
      droppedPostings = meta.getAs[Long]("dropped_postings"),
      cachedPieces = Nil)
  }

  /** Shared per-batch working set of the indexed operators: the
    * per-doc distinct shingle-hash ARRAYS (round 17 — the verify
    * arrays, computed per row), the cached ranked shingle stream
    * (explode → corpus-df join → per-doc rank window, ONE exchange
    * chain) and the batch (id, fingerprint) pairs. All persisted +
    * tracked; the consumers (verdicts, deltas) are pure cache readers. */
  private final case class BatchIndexInput(sets: DataFrame,
      ranked: DataFrame, fp: DataFrame)

  private def batchInput(index: CorpusShingleIndex, batch: DataFrame,
      idCol: String, textCol: String): BatchIndexInput = {
    val sets = PipelineCaches.track(
      shingleSetStream(batch, idCol, textCol, index.shingleN)
        .persist(StorageLevel.MEMORY_AND_DISK))
    // batch prefix rank under the index's fixed (corpus df, hash)
    // order; LEFT join: a batch-only shingle has no corpus df row → df
    // 0. __sz rides along from the arrays — no count window.
    val ranked = PipelineCaches.track(
      sets.select(col("id"), col("__sz"), explode(col("__hs")).as("h"))
        .repartition(col("h"))
        .join(index.dfreq, Seq("h"), "left")
        .withColumn("__dfo", coalesce(col("__df"), lit(0L)))
        .withColumn("__rk", row_number().over(
          Window.partitionBy(col("id")).orderBy(col("__dfo"), col("h"))))
        .select(col("id"), col("h"), col("__sz"), col("__rk"))
        .persist(StorageLevel.MEMORY_AND_DISK))
    val fp = PipelineCaches.track(batch
      .select(col(idCol).as("id"),
        graft.pipeline.TextOps.fingerprint(col(textCol)).as("__fp"))
      .persist(StorageLevel.MEMORY_AND_DISK))
    BatchIndexInput(sets, ranked, fp)
  }

  /** The capped prefix postings of a batch working set. */
  private def prefixOf(index: CorpusShingleIndex,
      in: BatchIndexInput): DataFrame = {
    val ceilT = ((col("__sz") * index.thresholdNum + index.thresholdDen - 1) /
      index.thresholdDen).cast("long")
    cappedBuckets(
      in.ranked.filter(col("__rk") <= col("__sz") - ceilT + 1)
        .select(col("id"), col("h"), col("__sz")),
      Seq(col("h")), index.maxPosting)
  }

  /** Grow `index` by the batch's fps/prefix/arrays deltas. `fill` builds
    * further frames from the (prefix, arrays) deltas — the verdicts of
    * [[classifyAndAppend]] — which are persisted, tracked and filled by
    * the SAME action as the deltas and returned in order. */
  private def appendWithDeltas(index: CorpusShingleIndex, in: BatchIndexInput,
      fill: (DataFrame, DataFrame) => Seq[DataFrame])
      : (CorpusShingleIndex, Seq[DataFrame]) = {
    def persistTracked(df: DataFrame): DataFrame =
      PipelineCaches.track(df.persist(StorageLevel.MEMORY_AND_DISK))
    val fpsDelta = persistTracked(in.fp.select(col("__fp")).distinct()
      // keep the union a set: only fingerprints the corpus lacks
      .join(index.fps, Seq("__fp"), "left_anti"))
    val prefixDelta = persistTracked(prefixOf(index, in))
    // the verify arrays ARE the cached per-doc sets (round 17): the
    // delta reuses that persist outright (a re-persist of the same
    // plan would alias the same CacheManager entry anyway), so it is
    // exempted from the working-set release below — it lives on as an
    // index piece until index.release / the global drain
    val arrsDelta = in.sets
    // persisted AFTER the deltas, so their cached plans read them
    val filled = fill(prefixDelta, arrsDelta).map(persistTracked)
    // one materialization action for all three deltas, the filled
    // frames AND the cap audit (see the build — the tagged
    // fifth-branch idiom)
    val ceilT = ((col("__sz") * index.thresholdNum + index.thresholdDen - 1) /
      index.thresholdDen).cast("long")
    val droppedDelta = materializeAndCountDropped(
      Seq(fpsDelta, prefixDelta, arrsDelta) ++ filled,
      overCapBuckets(
        in.ranked.filter(col("__rk") <= col("__sz") - ceilT + 1),
        Seq(col("h")), index.maxPosting))
    // the working set is dead once everything reading it is filled —
    // release it HERE rather than letting it accumulate across a
    // continuous-ingestion loop (N appends would otherwise pin 2N dead
    // batch caches until the next global releaseAll, evicting the live
    // index frames). A filled cache is kept as it is: Spark recompiles
    // only dependents whose buffers are not loaded. in.sets is NOT
    // released: it is the arrays delta (an index piece)
    in.ranked.unpersist(); in.fp.unpersist()
    (index.copy(
      fps = index.fps.unionAll(fpsDelta),
      prefix = index.prefix.unionAll(prefixDelta),
      arrs = index.arrs.unionAll(arrsDelta),
      droppedPostings = index.droppedPostings + droppedDelta,
      cachedPieces = index.cachedPieces ++ Seq(fpsDelta, prefixDelta, arrsDelta)),
      filled)
  }

  /** Classify a batch of arriving documents against a prebuilt
    * [[CorpusShingleIndex]] — the per-call shape of continuous
    * ingestion: all corpus-side work (shingling, document frequency,
    * prefix postings, verify arrays) was paid at index build; this call
    * touches ONLY batch-side data plus cached index reads.
    *
    * Prefix order and the completeness lemma: the index fixed the global
    * shingle order at build time as (corpus document frequency, hash),
    * with batch-only shingles taking df = 0 (they sort first — maximally
    * rare, which is also the selective choice). The prefix-filter lemma
    * (see [[ngramJaccardPairs]]) holds for ANY global total order shared
    * by both sides: the first common shingle of a qualifying pair (in
    * that order) must sit inside BOTH prefixes, else either side's
    * suffix of ceil(t·|d|)−1 elements would have to hold all ≥ ceil(t·|d|)
    * common shingles. Batch-independence of the order is exactly what
    * makes the corpus prefix reusable across batches — the union-df
    * order [[incrementalNearDup]] uses would change with every batch.
    *
    * Verdicts match [[incrementalNearDup]] bit-for-bit: candidates are a
    * superset under either order and the exact-Jaccard verify decides.
    * Output: (id, verdict ∈ exact/near/new), ordered by id. */
  def incrementalNearDupIndexed(index: CorpusShingleIndex, batch: DataFrame,
      idCol: String, textCol: String): DataFrame =
    verdictsFrom(index, batchInput(index, batch, idCol, textCol))

  private def verdictsFrom(index: CorpusShingleIndex,
      in: BatchIndexInput): DataFrame =
    // the cached per-doc sets ARE the verify arrays (round 17)
    verdictsFrom(index, in, prefixOf(index, in), in.sets)

  /** Verdicts with caller-supplied batch prefix/arrays frames — the
    * [[classifyAndAppend]] path hands in the append's PERSISTED deltas
    * (textually identical derivations of `in`), so the verdict plan
    * reads the already-materialized caches instead of re-running the
    * prefix window and the sort_array aggregate (round 16). */
  private def verdictsFrom(index: CorpusShingleIndex,
      in: BatchIndexInput, prefixB: DataFrame, arrsB: DataFrame): DataFrame = {
    val exact = in.fp
      .join(index.fps, Seq("__fp"), "left_semi")
      .select(col("id"))
    val candPairs = prefixB
      .select(col("h"), col("id").as("id_b"), col("__sz").as("__szb"))
      .join(index.prefix.select(col("h"), col("id").as("id_c"),
        col("__sz").as("__szc")), "h")
      .filter(col("__szb") * index.thresholdNum <= col("__szc") * index.thresholdDen &&
        col("__szc") * index.thresholdNum <= col("__szb") * index.thresholdDen)
      .select("id_b", "id_c")
      .distinct()
    val near = candPairs
      .join(arrsB.select(col("id").as("id_b"), col("__hs").as("__ha"),
        col("__sz").as("__sza")), "id_b")
      .join(index.arrs.select(col("id").as("id_c"), col("__hs").as("__hb"),
        col("__sz").as("__szb")), "id_c")
      .withColumn("__inter",
        graft.functions.SetOps.sortedIntersectCount(col("__ha"), col("__hb")))
      .withColumn("__uni", col("__sza") + col("__szb") - col("__inter"))
      .filter(col("__inter") * index.thresholdDen >=
        col("__uni") * index.thresholdNum)
      .select(col("id_b").as("id"))
      .distinct()
    in.fp.select(col("id"))
      .join(exact.withColumn("__ex", lit(true)), Seq("id"), "left")
      .join(near.withColumn("__nr", lit(true)), Seq("id"), "left")
      .select(col("id"),
        when(col("__ex").isNotNull, lit("exact"))
          .when(col("__nr").isNotNull, lit("near"))
          .otherwise(lit("new")).as("verdict"))
      .orderBy(col("id"))
  }

  // ---- content-defined chunking (rolling-hash fingerprints) ----

  /** Per-doc content-defined chunk fingerprints as (id, chunk-hash) rows:
    * the rolling-hash boundaries (see [[graft.functions.Cdc]]) cut each
    * document into ~2^maskBits-byte chunks whose hashes survive edits
    * elsewhere in the document — insertions re-synchronize within one
    * window. Distinct per doc (shared-passage detection is set-based). */
  def chunkStream(docs: DataFrame, idCol: String, textCol: String,
      window: Int = 32, maskBits: Int = 6, minSize: Int = 16,
      portable: Boolean = false): DataFrame =
    docs.select(col(idCol).as("id"),
        explode(
          if (portable) graft.functions.ChunkFingerprintsPortable(
            col(textCol), window, maskBits)
          else graft.functions.ChunkFingerprints(
            col(textCol), window, maskBits, minSize)).as("chunk"))
      .distinct()

  /** Document pairs sharing at least `minShared` content-defined chunks —
    * the chunk-level analogue of the MinHash pipeline, catching long
    * VERBATIM passages (boilerplate, quotations, near-full duplication)
    * across otherwise-edited documents. Same scale shape as every other
    * dedup operator here: explode → capped bucket self-equijoin on the
    * chunk hash → pair aggregation; never an all-pairs join. Over-cap
    * chunk buckets (boilerplate shared by everything — a stop-chunk) are
    * dropped before the join. */
  def sharedChunkPairs(docs: DataFrame, idCol: String, textCol: String,
      window: Int = 32, maskBits: Int = 6, minSize: Int = 16,
      minShared: Int = 2, maxBucket: Int = 4096,
      portable: Boolean = false): DataFrame = {
    require(minShared >= 1, "minShared must be >= 1")
    val chunks = cappedBuckets(
      chunkStream(docs, idCol, textCol, window, maskBits, minSize, portable),
      Seq(col("chunk")), maxBucket)
    val left = chunks.select(col("id").as("id_a"), col("chunk"))
    val right = chunks.select(col("id").as("id_b"), col("chunk"))
    left.join(right, Seq("chunk"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("shared_chunks"))
      .filter(col("shared_chunks") >= minShared)
      .orderBy(col("id_a"), col("id_b"))
  }

  // ---- near-dup clustering (connected components + canonical pick) ----

  /** Single-slot session memo for [[connectedComponents]] results:
    * (key, lineage-free checkpointed labels). A new key evicts the old
    * entry; the evicted checkpoint's blocks are freed by the context
    * cleaner once unreferenced. */
  private val ccCache =
    new java.util.concurrent.atomic.AtomicReference[(String, DataFrame)](("", null))

  /** Bench/test hook: drop the session memo so the next
    * [[connectedComponents]] call pays the full propagation — used to
    * keep the one-time cold cost visible in BENCH (the memoized read is
    * what production pipelines see after the first use, but a bench
    * that only ever times the memo would hide the compute entirely). */
  def clearCcCache(): Unit = ccCache.set(("", null))

  /** Drop the memo AND unpersist its checkpoint blocks immediately.
    * Only safe when no previously-returned components frame will be
    * acted on again — a localCheckpoint has no lineage to recompute
    * from — so this is for suite teardown (the bench's end-of-run
    * persisted-RDD audit), not for mid-run eviction ([[clearCcCache]]
    * keeps reference-drop semantics for that). */
  def releaseCcCache(blocking: Boolean = false): Unit = {
    val (_, cached) = ccCache.get()
    ccCache.set(("", null))
    if (cached != null) PipelineCaches.unpersist(cached, blocking)
  }

  /** Connected components over an undirected pair list (id_a, id_b):
    * every node gets the MINIMUM id reachable from it as its component
    * label. Pure min-label propagation — each round joins the current
    * labels across the edge list and keeps the smaller label, until a
    * fixpoint (checked with a driver-side count, synchronous like the
    * k-means loop). Rounds needed = graph diameter; near-dup graphs are
    * unions of small cliques (diameter ≲ 2), so this converges in 2-3
    * rounds where a general web graph would want the large-star/
    * small-star variant. Output: (id, component).
    *
    * Deterministic by construction (min is order-free), one shuffle per
    * round on the node key, labels frame is |nodes| rows — the edge
    * list, not the corpus, bounds the cost. The returned frame is an
    * eager localCheckpoint: its lineage is truncated to the
    * materialized blocks, so every internal cache (pair list, edges,
    * per-round labels) is released before returning — unpersisting
    * those parents would otherwise invalidate a dependent cached plan
    * and silently re-run the whole propagation on first use (measured:
    * a "cached" result costing 5 s instead of 0.1 s). */
  def connectedComponents(pairs: DataFrame, idA: String = "id_a",
      idB: String = "id_b", maxRounds: Int = 20,
      driverMaxPairs: Long = 1000000L): DataFrame = {
    // session-scoped memo: qp71's components and qp73's are the same
    // expensive pipeline; key on the FULL canonicalized pair plan — a
    // 32-bit semanticHash could collide across different pipelines in
    // one session and silently return wrong labels (ADVICE r6) — so the
    // second caller reuses the lineage-free checkpoint (the source
    // tables are immutable within a session — same caveat as the CTE
    // caches)
    val cacheKey =
      s"${pairs.queryExecution.analyzed.canonicalized}|$idA|$idB|$maxRounds|$driverMaxPairs"
    ccCache.get() match {
      case (k, cached) if cached != null && k == cacheKey &&
          (cached.sparkSession eq pairs.sparkSession) &&
          !cached.sparkSession.sparkContext.isStopped =>
        return cached
      case _ => ()
    }
    // persist the pair list before mirroring it: the union's two
    // branches would otherwise each re-run the (possibly expensive)
    // pair-producing pipeline feeding this
    val p = pairs.select(col(idA).as("id_a"), col(idB).as("id_b"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // force-fill the cache in ONE pass: the union below scans p twice,
    // and two branches racing to fill a cold cache each run the full
    // pair-producing pipeline (measured 2× cost in the first action)
    val pairCount = p.count()
    // TINY-GRAPH gate (round 10): the distributed loop costs 4-5 full
    // job rounds (init + per-round join/agg/sum + checkpoint) whatever
    // the data size — ~1.5 s of pure scheduling for the few hundred
    // pairs a deduplicated fixture produces. Up to `driverMaxPairs`
    // (16 MB of longs at the default) the pair list collects and a
    // min-label union-find computes the same labels exactly; the
    // distributed propagation engages above the gate, where the rounds
    // amortize. Same bounded-collect stance as the k-means centroids.
    if (pairCount <= driverMaxPairs) {
      val spark = pairs.sparkSession
      val es = p.collect().map(r => (r.getLong(0), r.getLong(1)))
      p.unpersist(false)
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      es.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      // roots are already the minimum id of their component: unions
      // always attach the larger root under the smaller
      val rowSeq = parent.keys.toSeq.sorted.map(id =>
        org.apache.spark.sql.Row(id, find(id)))
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("component",
          org.apache.spark.sql.types.LongType, nullable = false)))
      val out = spark.createDataFrame(
        spark.sparkContext.parallelize(rowSeq, 1), schema)
      ccCache.set((cacheKey, out))
      return out
    }
    val edges = p.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(p.select(col("id_b").as("src"), col("id_a").as("dst")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    var labels: DataFrame = null
    try {
      // the init labels FOLD IN round 0: label₀ = min(id, min neighbor)
      // straight off the edge aggregation — one round (join + shuffle +
      // persist cycle) cheaper than initializing to id and propagating
      // (VERDICT r5 #6). Every node appears as dst (edges are
      // symmetric), so the node set is preserved.
      labels = edges.groupBy(col("dst")).agg(min(col("src")).as("nmin"))
        .select(col("dst").as("id"),
          least(col("dst"), col("nmin")).as("component"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      // labels only ever DECREASE, so an unchanged label sum is a
      // fixpoint — one cheap aggregate per round instead of a
      // change-detection join (decimal: id sums can pass 2^63 at scale;
      // sum over an EMPTY frame is null — handled below)
      def labelSum(df: DataFrame): java.math.BigDecimal =
        df.agg(sum(col("component").cast("decimal(38,0)"))).head.getDecimal(0)
      var t0 = System.nanoTime()
      var prevSum = labelSum(labels)
      if (sys.env.contains("GRAFT_CC_DEBUG"))
        println(f"[cc] init ${(System.nanoTime()-t0)/1e9}%.2f s")
      // no pairs → no nodes: the empty labels frame IS the answer (every
      // doc is its own component via keepCanonicalByComponent's coalesce)
      // — and the sum-fixpoint loop could never converge on null sums
      if (prevSum == null) {
        val empty = labels.localCheckpoint(true)
        ccCache.set((cacheKey, empty))
        return empty
      }
      var round = 0
      var converged = false
      while (round < maxRounds && !converged) {
        // neighbor minimum rides one shuffle (map-side combined); the
        // left join keeps isolated-after-distinct nodes stable
        val nbrMin = edges
          .join(labels.withColumnsRenamed(Map("id" -> "src", "component" -> "nl")), "src")
          .groupBy(col("dst")).agg(min(col("nl")).as("nmin"))
          .withColumnRenamed("dst", "id")
        val next = labels.join(nbrMin, Seq("id"), "left")
          .select(col("id"),
            least(col("component"), coalesce(col("nmin"), col("component")))
              .as("component"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        t0 = System.nanoTime()
        val s = labelSum(next) // also materializes next's persist
        if (sys.env.contains("GRAFT_CC_DEBUG"))
          println(f"[cc] round $round ${(System.nanoTime()-t0)/1e9}%.2f s")
        converged = s.compareTo(prevSum) == 0
        prevSum = s
        labels.unpersist(false)
        labels = next
        round += 1
      }
      // silent truncation would hand keepCanonicalByComponent SPLIT
      // clusters (several "canonical" survivors of one true component)
      // — unlike k-means, a capped label propagation has no
      // partial-result semantics, so refuse instead
      if (!converged)
        throw new IllegalStateException(
          s"connectedComponents did not converge in $maxRounds rounds — " +
            "a component's diameter exceeds the cap; raise maxRounds")
      t0 = System.nanoTime()
      val out = labels.localCheckpoint(true)
      if (sys.env.contains("GRAFT_CC_DEBUG"))
        println(f"[cc] checkpoint ${(System.nanoTime()-t0)/1e9}%.2f s")
      ccCache.set((cacheKey, out))
      out
    } finally {
      // also on throw (non-convergence, mid-round failure): no cached
      // frame may outlive the call; double-unpersist is a no-op
      if (labels != null) labels.unpersist(false)
      edges.unpersist(false); p.unpersist(false)
    }
  }

  /** Collapse near-duplicate clusters to one canonical survivor each:
    * components over `pairs`, then per component the row minimizing
    * (rank expression, id) survives — ties on the rank break by id, so
    * the pick is deterministic. Docs in no pair survive untouched (they
    * are their own component). Output: docs columns + `component` +
    * `is_canonical`. No caches outlive the call — the components frame
    * is a lineage-free localCheckpoint whose blocks the context cleaner
    * frees once unreferenced. */
  def keepCanonicalByComponent(docs: DataFrame, idCol: String,
      pairs: DataFrame, rank: Column): DataFrame = {
    // output columns must not collide with input ones: a pre-existing
    // `component` makes the join's coalesce ambiguous (AnalysisException
    // mid-plan), a pre-existing `is_canonical` would be silently
    // overwritten — fail with a rename hint instead
    Seq("component", "is_canonical").foreach { c =>
      require(!docs.columns.map(_.toLowerCase).contains(c),
        s"keepCanonicalByComponent adds a '$c' column; rename the input's")
    }
    val comp = connectedComponents(pairs)
    val labeled = docs.join(comp.withColumnRenamed("id", idCol),
        Seq(idCol), "left")
      .withColumn("component", coalesce(col("component"), col(idCol)))
    val w = Window.partitionBy(col("component"))
      .orderBy(rank, col(idCol))
    labeled.withColumn("is_canonical", row_number().over(w) === 1)
  }

  // ---- embedding-cosine near-duplicates ----

  /** Integer-valued quantization (floor(x·1000) kept as exact doubles) —
    * dot products over these are exact integer sums inside the codegen'd
    * DotProduct, so the threshold compare is bit-reproducible in any
    * engine that evaluates the same IEEE expression. */
  // floor(x*1000) as exact doubles via the native QuantizeMilli
  // expression — one call per row, not an interpreted lambda per element
  private def quantizeD(e: Column): Column =
    graft.functions.VectorOps.quantizeMilli(e)

  private def dotQ(a: Column, b: Column): Column =
    graft.functions.VectorOps.dot(a, b)

  /** cos(a,b) ≥ num/den over quantized vectors, as the exact predicate
    * den²·dot² ≥ num²·|a|²·|b|² (with dot ≥ 0) — no square roots in the
    * filter; the reported cos is a single deterministic division. */
  private def cosPairs(pairs: DataFrame, thresholdNum: Int, thresholdDen: Int): DataFrame =
    pairs
      .withColumn("__dot", dotQ(col("__qa"), col("__qb")))
      .filter(col("__na") > 0 && col("__nb") > 0 && col("__dot") >= 0 &&
        lit((thresholdDen.toLong * thresholdDen).toDouble) * col("__dot") * col("__dot") >=
          lit((thresholdNum.toLong * thresholdNum).toDouble) * col("__na") * col("__nb"))
      .select(col("id_a"), col("id_b"),
        (col("__dot") / sqrt(col("__na") * col("__nb"))).as("cos"))
      .orderBy(col("id_a"), col("id_b"))

  /** Hard cap on the id slice the EXACT embedding near-dup tier accepts —
    * the tier is O(slice²) pairs by design (the oracle-checkable
    * baseline); an unbounded slice is an all-pairs cross join (VERDICT
    * r3 #1). The gate fails fast with a pointer to the LSH tier. */
  val MaxExactNearDupIds: Long = 65536L

  /** Embedding-cosine near-duplicate pairs, EXACT tier: all pairs over a
    * bounded id slice (`maxId`) — the oracle-checkable baseline, O(slice²);
    * use [[embeddingNearDupPairsLsh]] for unbounded corpora. */
  def embeddingNearDupPairs(embeddings: DataFrame, maxId: Long,
      thresholdNum: Int, thresholdDen: Int): DataFrame = {
    require(thresholdNum >= 0 && thresholdDen >= 1,
      "cosine threshold must be num >= 0, den >= 1 (the squared predicate loses the sign)")
    require(maxId <= MaxExactNearDupIds,
      s"embeddingNearDupPairs is the exact O(slice²) baseline tier: maxId = " +
        s"$maxId exceeds the cap of $MaxExactNearDupIds. Use the bucketed " +
        "scale tier instead: embeddingNearDupPairsLsh.")
    val e = embeddings.filter(col("vec_id") < maxId)
      .select(col("vec_id"), quantizeD(col("embedding")).as("q"))
      .withColumn("n2", dotQ(col("q"), col("q")))
    val a = e.select(col("vec_id").as("id_a"), col("q").as("__qa"), col("n2").as("__na"))
    val b = e.select(col("vec_id").as("id_b"), col("q").as("__qb"), col("n2").as("__nb"))
    cosPairs(a.join(b, col("id_a") < col("id_b")), thresholdNum, thresholdDen)
  }

  /** Embedding-cosine near-duplicate pairs, SCALE tier: candidates share
    * a random-hyperplane sign bucket in at least one of `tables` hash
    * tables (the [[Similarity]] bucketing), then the same exact quantized
    * verify — a bucket equijoin instead of an all-pairs cross join. Every
    * emitted pair passes the exact predicate (precision 1); recall is
    * 1−(1−p^nbits)^tables per pair, tuned by nbits/tables. Over-cap
    * buckets are dropped like every other bucketed operator here. */
  def embeddingNearDupPairsLsh(embeddings: DataFrame,
      thresholdNum: Int, thresholdDen: Int,
      nbits: Int = 2, tables: Int = 8, maxBucket: Int = 4096,
      directMaxFraction: Double = 0.5): DataFrame = {
    require(thresholdNum >= 0 && thresholdDen >= 1,
      "cosine threshold must be num >= 0, den >= 1 (the squared predicate loses the sign)")
    // Planner gate: the fraction of ALL pairs the index makes candidates
    // is 1−(1−2^−nbits)^tables in expectation. When that reaches
    // `directMaxFraction` the index prunes (almost) nothing — every pair
    // gets generated, joined and verified anyway, just ~tables/2^nbits
    // times over — so the bucket machinery is strictly dominated by the
    // direct all-pairs verify it was supposed to avoid (qp74's
    // recall-1 setting nbits=1/tables=12 keeps 99.98 % of pairs: the
    // bucket join materialized 6× the candidate rows of the direct
    // join, measured ~2× the wall clock). The direct path also has
    // recall exactly 1. At scale-sane settings (2^nbits ≫ tables) the
    // fraction is ~tables/2^nbits ≪ ½ and the index engages as before;
    // specs force the bucket path with directMaxFraction > 1.
    val candidateFraction = 1.0 - math.pow(1.0 - 1.0 / (1L << nbits), tables)
    if (candidateFraction >= directMaxFraction) {
      val e = embeddings.filter(col("embedding").isNotNull)
        .select(col("vec_id"), quantizeD(col("embedding")).as("q"))
        .withColumn("n2", dotQ(col("q"), col("q")))
      return cosPairs(
        e.select(col("vec_id").as("id_a"), col("q").as("__qa"), col("n2").as("__na"))
          .join(e.select(col("vec_id").as("id_b"), col("q").as("__qb"), col("n2").as("__nb")),
            col("id_a") < col("id_b")),
        thresholdNum, thresholdDen)
    }
    // dim probe tolerates empty input and null embeddings
    val nonNull = embeddings.filter(col("embedding").isNotNull)
    val dim = nonNull.select(size(col("embedding")).as("d"))
      .limit(1).collect().headOption.map(_.getInt(0)).getOrElse(1)
    // fail fast when nbits is too low for the corpus (VERDICT r6 #7):
    // an expected bucket population of n / 2^nbits beyond maxBucket
    // means the skew cap would drop essentially EVERY bucket, silently
    // zeroing recall at scale. The count is a column-pruned scan — the
    // same probe-job budget as the exact tier's max-id gate.
    val n = nonNull.count()
    if ((n >> nbits) > maxBucket) {
      var k = nbits
      while ((n >> k) > maxBucket) k += 1
      throw new IllegalArgumentException(
        s"embeddingNearDupPairsLsh: expected bucket population ${n >> nbits} " +
        s"($n vectors / 2^$nbits) exceeds maxBucket=$maxBucket — the cap " +
        s"would drop whole buckets and silently zero recall; raise nbits " +
        s"to >= $k (or raise maxBucket)")
    }
    // the candidate stage is ids-only: buckets, the bucket self-join,
    // and the pair dedup all move two longs per row. Carrying the
    // quantized vectors through the bucket join (the r5 shape) made the
    // dedup shuffle 2·dim doubles per CANDIDATE — ~50× the bytes, and
    // at 100 TB the difference between a pair-list shuffle and an
    // embedding-table-sized one. Vectors re-join AFTER dedup, once per
    // SURVIVING pair side (the Vernica pattern the Jaccard tier uses).
    val bucketed = cappedBuckets(
      nonNull
        .select(col("vec_id"),
          posexplode(array((0 until tables).map(t =>
            Similarity.signBucket(col("embedding"), t, nbits, dim)): _*)))
        .withColumnsRenamed(Map("pos" -> "tbl", "col" -> "bucket")),
      Seq(col("tbl"), col("bucket")), maxBucket)
    // Candidate dedup WITHOUT a candidate-sized shuffle: a pair that
    // collides in several tables must be emitted once, and the candidate
    // set (≫ corpus at low nbits) is the worst possible thing to
    // dropDuplicates over. Instead each id carries its full bucket
    // vector packed into one long (`nbits` bits per table) plus a
    // survival bitmap (bit t set iff the id's table-t bucket survived
    // the cap), both computed by a corpus-sized window; the join then
    // keeps a pair only at its FIRST table where both sides survived
    // and collided — a pure bitwise filter, exactly-once by
    // construction, zero post-join shuffle. Cap interaction is exact:
    // dropped buckets are skipped via the surv bits, so a pair whose
    // earliest collision was in a dropped bucket still surfaces at its
    // next surviving collision (what dropDuplicates over surviving rows
    // computed). Falls back to the dropDuplicates shape only when the
    // packing does not fit a long (tables·nbits > 62).
    val candIds =
      if (tables.toLong * nbits <= 62 && tables <= 62) {
        val wId = Window.partitionBy(col("vec_id"))
        val packed = bucketed
          .withColumn("__mask",
            sum(expr(s"shiftleft(bucket, cast(tbl * $nbits as int))")).over(wId))
          .withColumn("__surv",
            sum(expr("shiftleft(cast(1 as bigint), cast(tbl as int))")).over(wId))
        def chunk(m: Column, t: Int): Column =
          shiftright(m, t * nbits).bitwiseAND(lit((1L << nbits) - 1))
        val firstCollision = (0 until tables - 1).map { t =>
          (col("tbl") <= t) ||
            shiftright(col("__sa"), t).bitwiseAND(shiftright(col("__sb"), t))
              .bitwiseAND(lit(1L)) === 0 ||
            chunk(col("__ma"), t) =!= chunk(col("__mb"), t)
        }.reduceOption(_ && _).getOrElse(lit(true))
        packed.select(col("vec_id").as("id_a"), col("tbl"), col("bucket"),
            col("__mask").as("__ma"), col("__surv").as("__sa"))
          .join(packed.select(col("vec_id").as("id_b"), col("tbl"), col("bucket"),
            col("__mask").as("__mb"), col("__surv").as("__sb")),
            Seq("tbl", "bucket"))
          .filter(col("id_a") < col("id_b") && firstCollision)
          .select(col("id_a"), col("id_b"))
      } else {
        bucketed.select(col("vec_id").as("id_a"), col("tbl"), col("bucket"))
          .join(bucketed.select(col("vec_id").as("id_b"), col("tbl"), col("bucket")),
            Seq("tbl", "bucket"))
          .filter(col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b"))
          .dropDuplicates("id_a", "id_b")
      }
    val e = embeddings
      .select(col("vec_id"), quantizeD(col("embedding")).as("q"))
      .withColumn("n2", dotQ(col("q"), col("q")))
    val cands = candIds
      .join(e.select(col("vec_id").as("id_a"), col("q").as("__qa"),
        col("n2").as("__na")), Seq("id_a"))
      .join(e.select(col("vec_id").as("id_b"), col("q").as("__qb"),
        col("n2").as("__nb")), Seq("id_b"))
    cosPairs(cands, thresholdNum, thresholdDen)
  }

  /** Per-bit mixing constants (multiplier, addend) for spreading the
    * 30-bit portable shingle hash into 64 sign tests — canonical copy
    * lives beside the native expression, exported so the oracle inlines
    * the SAME constants (the lshPlanesInt pattern). */
  private[graft] def simhashPlanes: Seq[(Long, Long)] =
    graft.functions.SimhashPortable.planes

  /** 64-bit SimHash per doc via explode + 64 codegen'd conditional-sum
    * aggregates (same no-lambda design as minhashWide), packed into one
    * long by a projection. Features are 3-word shingles, not single
    * tokens — bag-of-words features make every same-domain doc hash
    * near-identical (giant buckets); shingles are order-sensitive and
    * separate non-duplicates.
    *
    * `portable = true` swaps xxhash64 for [[portableShingleHash64]] so
    * the whole pipeline is external-oracle replayable (qp51). */
  def simhashWide(docs: DataFrame, idCol: String, textCol: String,
      portable: Boolean = false): DataFrame = {
    lazy val shingles = shingleStream(docs, idCol, textCol, 3)
    val tok =
      // round 16: the xxhash64 branch reads the native hash stream (no
      // token window/exchange — see shingleHashStream); the portable
      // branch still needs the shingle STRING for its char-level hash
      if (!portable) shingleHashStream(docs, idCol, textCol, 3)
      else
        // one native codegen'd expression per shingle (char hash + the
        // 64 sign tests in a static call) — both a functions.aggregate
        // lambda (interpreted per char, the SCALE.md hot-array rule)
        // and a 64-term Column tree (deep codegen; benched 3×) lose
        shingles.select(col("id"),
          graft.functions.SimhashFingerprint(col("s")).as("h"))
    // Pack the 64 per-bit counters into 32 lane-packed sums (2 lanes of
    // 31 bits per long) plus one row count, instead of 64 independent
    // sum(±1) aggregates: the 64-state HashAggregate generated a
    // multi-second whole-stage-codegen compile and 64 long slots per
    // group. Lane k of group g holds count(bit 2g+k set); a lane sum
    // CARRIES (not saturates) into its neighbor only past 2^31 shingles
    // in one document — a single document of billions of words, beyond
    // any real input (21-bit lanes were tried first: 2^21 shingles is a
    // large-but-possible machine-generated document, an unacceptable
    // silent-corruption edge). Majority rule: sum(±1) >= 0 ⟺ 2·ones >= n.
    val groups = (0 until 64).grouped(2).toSeq
    val aggs = groups.zipWithIndex.map { case (js, g) =>
      sum(js.zipWithIndex.map { case (j, k) =>
        shiftright(col("h"), j).bitwiseAND(1L) * lit(1L << (31 * k))
      }.reduce(_ + _)).as(s"g$g")
    }
    val lanes = groups.zipWithIndex.flatMap { case (js, g) =>
      js.zipWithIndex.map { case (j, k) =>
        when(shiftright(col(s"g$g"), 31 * k).bitwiseAND(0x7FFFFFFFL) * 2 >= col("n"),
          lit(1L << j)).otherwise(lit(0L))
      }
    }
    tok.groupBy(col("id")).agg(count(lit(1)).as("n"), aggs: _*)
      .select(col("id"), lanes.reduce(_ + _).as("simhash"))
  }

  /** SimHash near-duplicates: banded into eight 8-bit chunks — by
    * pigeonhole two docs within hamming distance 7 share at least one
    * chunk exactly, and noisier pairs are still caught with high
    * probability; candidates verified by exact hamming distance. */
  def simhashNearDuplicates(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 7, maxBucket: Int = 4096,
      portable: Boolean = false): DataFrame = {
    val hashed = simhashWide(docs, idCol, textCol, portable)
    val chunkCols = (0 until 8).map(i =>
      shiftright(col("simhash"), i * 8).bitwiseAND(0xFFL))
    val chunked = cappedBuckets(
      hashed.select(col("id"), col("simhash"),
        posexplode(array(chunkCols: _*)))
        .withColumnsRenamed(Map("pos" -> "chunk", "col" -> "cv")),
      Seq(col("chunk"), col("cv")), maxBucket)
    val left = chunked.select(col("id").as("id_a"), col("simhash").as("sh_a"), col("chunk"), col("cv"))
    val right = chunked.select(col("id").as("id_b"), col("simhash").as("sh_b"), col("chunk"), col("cv"))
    // filter on hamming BEFORE distinct: same-domain corpora produce very
    // similar simhashes, so chunk buckets can be large — the cheap bitwise
    // filter prunes the candidate stream, the distinct then runs on the
    // few surviving pairs
    left.join(right, Seq("chunk", "cv"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        TextOps.hamming64(col("sh_a"), col("sh_b")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
      .orderBy(col("id_a"), col("id_b"))
  }
}
