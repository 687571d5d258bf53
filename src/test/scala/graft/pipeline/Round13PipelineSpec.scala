package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-13 pipeline additions.
  *
  *  - Corpus shingle index (VERDICT r12 missing #1): verdicts from the
  *    indexed path must equal the one-shot [[Dedup.incrementalNearDup]]
  *    bit-for-bit (the prefix order differs — union-df vs corpus-df —
  *    but candidates are a superset either way and the exact verify
  *    decides), and a verdict call against a built index must scan ONLY
  *    batch-side files — the plan pin that makes "no corpus rebuild per
  *    batch" a regression test instead of a design note.
  *  - KMV merge property (VERDICT r12 next #5): sketch(A ∪ B) ==
  *    merge(sketch(A), sketch(B)) exactly, for every split tried — the
  *    entire map-side-combinability argument as an assertion.
  *  - Quality-quantile approx tier (VERDICT r12 missing #3): the
  *    two-pass threshold tier may disagree with the exact rank tier
  *    only on rows tied AT the boundary score; the auto gate dispatches
  *    by max per-source row count.
  */
class Round13PipelineSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .appName("round13-pipeline-spec").master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  private val dir = "/root/testdata/sf0.001"

  override def afterAll(): Unit = spark.stop()

  private def docs: DataFrame = graft.Tables.load(spark, dir, "documents")

  // ---- corpus shingle index ----------------------------------------------

  test("indexed incremental dedup: verdicts equal the one-shot operator") {
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val batch = docs.filter(col("doc_id") % 5 === 0)
    val oneShot = Dedup.incrementalNearDup(corpus, batch, "doc_id", "text",
        shingleN = 3, thresholdNum = 2, thresholdDen = 5)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val idx = Dedup.buildCorpusShingleIndex(corpus, "doc_id", "text",
      shingleN = 3, thresholdNum = 2, thresholdDen = 5)
    val indexed = Dedup.incrementalNearDupIndexed(idx, batch, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(indexed == oneShot)
    assert(idx.droppedPostings == 0L)
    graft.queries.Engines.releaseAll(blocking = true)
  }

  test("indexed incremental dedup: a verdict call scans only batch files") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, RDDScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val batch = docs.filter(col("doc_id") % 5 === 0)
    val idx = Dedup.buildCorpusShingleIndex(corpus, "doc_id", "text",
      shingleN = 3, thresholdNum = 2, thresholdDen = 5)
    val verdicts = Dedup.incrementalNearDupIndexed(idx, batch, "doc_id", "text")
    // walk the physical TREE, not the plan string: an InMemoryRelation
    // PRINTS its cached lineage (including the original corpus scans),
    // but those nodes never re-execute — only live tree nodes count.
    // The cached plan is not a child of InMemoryTableScanExec, so a
    // tree walk sees exactly the scans this query would run.
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case other => other +: other.children.flatMap(nodes)
    }
    val all = nodes(verdicts.queryExecution.executedPlan)
    val fileScans = all.collect { case f: FileSourceScanExec => f }
    val cacheScans = all.collect { case c: InMemoryTableScanExec => c }
    // index frames: cache scans plus scans of a path-free snapshot leaf
    // (a LogicalRDD plans as an RDDScanExec when it is read uncached)
    val indexScans = cacheScans.size + all.count(_.isInstanceOf[RDDScanExec])
    // every corpus-side input is a cached index frame; the only parquet
    // scans left are the batch side's (exact-tier fp, shingle stream,
    // final id assembly) — a corpus rebuild would put the corpus filter
    // (`NOT (doc_id % 5 = 0)`) back into a live scan
    assert(fileScans.size <= 3, s"unexpected live scan count ${fileScans.size}")
    fileScans.foreach(f => assert(!f.toString.contains("NOT ((doc_id"),
      s"verdict plan re-scans the corpus: $f"))
    assert(indexScans >= 3,
      s"verdict plan lost the cached index frames ($indexScans index scans)")
    // nor may an index cache be planned off the corpus files: a cache
    // whose plan still scans them is the one a write to those files
    // invalidates (CacheManager.recacheByPath), re-shingling the corpus
    cacheScans.flatMap(c => nodes(c.relation.cachedPlan))
      .collect { case f: FileSourceScanExec => f }
      .foreach(f => assert(!f.toString.contains("NOT ((doc_id"),
        s"an index cache is planned off the corpus scan: $f"))
    graft.queries.Engines.releaseAll(blocking = true)
  }

  test("index release: persisted RDDs return to the pre-build set") {
    val sc = spark.sparkContext
    // a range-sourced corpus renamed back to `id` by the index: the
    // optimizer drops that alias, so the executed plan's output ordering
    // names an attribute the snapshot's output does not have
    val corpus = spark.range(200).selectExpr("id as doc_id",
      "concat('shared words for every copy ', id % 7) as text")
    val before = sc.getPersistentRDDs.keySet
    val idx = Dedup.buildCorpusShingleIndex(corpus, "doc_id", "text",
      shingleN = 3, thresholdNum = 2, thresholdDen = 5)
    val (verdicts, grown) = Dedup.classifyAndAppend(idx,
      docs.filter(col("doc_id") % 5 === 0), "doc_id", "text")
    verdicts.collect()
    assert(sc.getPersistentRDDs.keySet != before, "the build persisted nothing")
    grown.release(blocking = true)
    PipelineCaches.releaseAll(blocking = true)
    val left = sc.getPersistentRDDs.keySet -- before
    assert(left.isEmpty, s"release left ${left.size} persisted RDD(s)")
    // a checkpointed frame holds its blocks in an RDD, not a CacheManager
    // entry: the registry must drop that RDD too
    PipelineCaches.track(docs.select(col("doc_id")).localCheckpoint(eager = true))
    assert(sc.getPersistentRDDs.keySet != before, "the checkpoint persisted nothing")
    PipelineCaches.releaseAll(blocking = true)
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty,
      "releaseAll left a checkpoint's blocks persisted")
  }

  test("index over an engine table: an INSERT into it keeps the index cached") {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val engine = graft.engine.Engine.forTestdata(spark, dir)
    val tablePath = engine.catalog.tablePath("corpus")
    engine.execute("create table corpus (doc_id Int64, text String)")
    engine.execute("insert into corpus select doc_id, text from documents where doc_id % 5 <> 0")
    val idx = Dedup.buildCorpusShingleIndex(
      engine.execute("select doc_id, text from corpus"), "doc_id", "text",
      shingleN = 3, thresholdNum = 2, thresholdDen = 5)
    // the ingestion loop: classify + append a batch, act on its verdicts,
    // then INSERT the batch into the table the index was built from
    val b1 = docs.filter(col("doc_id") % 10 === 0)
    val b2 = docs.filter(col("doc_id") % 10 === 5)
    val (v1, idx1) = Dedup.classifyAndAppend(idx, b1, "doc_id", "text")
    v1.collect()
    val buildTime = docs.filter(col("doc_id") % 5 =!= 0).unionAll(b1)
    def verdicts(df: DataFrame): Map[Long, String] =
      df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val want = verdicts(Dedup.incrementalNearDup(buildTime, b2, "doc_id", "text",
      shingleN = 3, thresholdNum = 2, thresholdDen = 5))
    // the same INSERT also plants a copy of a batch-2 doc the snapshot
    // does not hold: an index that re-read the table would call it exact
    val planted = want.collectFirst { case (id, "new") => id }
      .getOrElse(fail("batch 2 has no 'new' document to plant"))
    engine.execute("insert into corpus select doc_id, text from documents " +
      "where doc_id % 10 = 0 union all select doc_id + 1000000, text " +
      s"from documents where doc_id = $planted")
    val pieces = Seq("fps" -> idx1.fps, "arrs" -> idx1.arrs,
      "dfreq" -> idx1.dfreq, "prefix" -> idx1.prefix)
    pieces.foreach { case (name, df) =>
      val roots = df.queryExecution.analyzed.collect {
        case l: LogicalRelation => l.relation
      }.collect { case h: HadoopFsRelation => h.location.rootPaths }.flatten
      assert(!roots.exists(_.toUri.getPath.startsWith(tablePath)),
        s"index $name still plans a scan of the corpus table: ${roots.mkString(", ")}")
    }
    val cacheManager = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    // after an append, prefix is a union over cached pieces: check the
    // built frames by name, then every piece of the grown index
    (Seq("dfreq" -> idx.dfreq, "prefix" -> idx.prefix) ++
        idx1.cachedPieces.zipWithIndex.map { case (df, i) => s"piece $i" -> df })
      .foreach { case (name, df) =>
        val cached = cacheManager.lookupCachedData(
          df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
        assert(cached.exists(_.cachedRepresentation.cacheBuilder.isCachedColumnBuffersLoaded),
          s"the INSERT dropped the cached buffers of index $name")
      }
    val (v2, idx2) = Dedup.classifyAndAppend(idx1, b2, "doc_id", "text")
    assert(verdicts(v2) == want)
    idx2.release(blocking = true)
    graft.queries.Engines.releaseAll(blocking = true)
  }

  test("indexed incremental dedup: planted verdicts across two batches") {
    import spark.implicits._
    val text = (1 to 60).map(i => s"token$i").mkString(" ")
    val near = (1 to 60).map(i => if (i <= 3) s"edited$i" else s"token$i").mkString(" ")
    val corpus = Seq((100L, text),
      (101L, "completely different content here " * 10)).toDF("doc_id", "text")
    val idx = Dedup.buildCorpusShingleIndex(corpus, "doc_id", "text",
      shingleN = 3, thresholdNum = 2, thresholdDen = 5)
    val b1 = Seq((1L, "  " + text + " "), (2L, near)).toDF("doc_id", "text")
    val b2 = Seq((3L, near),
      (4L, (1 to 60).map(i => s"zzz$i").mkString(" "))).toDF("doc_id", "text")
    val v1 = Dedup.incrementalNearDupIndexed(idx, b1, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val v2 = Dedup.incrementalNearDupIndexed(idx, b2, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(v1 == Map(1L -> "exact", 2L -> "near"))
    assert(v2 == Map(3L -> "near", 4L -> "new"))
    graft.queries.Engines.releaseAll(blocking = true)
  }

  test("index append: post-append verdicts equal a fresh corpus∪batch build") {
    val corpus = docs.filter(col("doc_id") % 5 =!= 0 && col("doc_id") % 7 =!= 0)
    val b1 = docs.filter(col("doc_id") % 5 === 0)
    val b2 = docs.filter(col("doc_id") % 5 =!= 0 && col("doc_id") % 7 === 0)
    val idx = Dedup.buildCorpusShingleIndex(corpus, "doc_id", "text",
      shingleN = 3, thresholdNum = 2, thresholdDen = 5)
    val idx2 = Dedup.appendToCorpusShingleIndex(idx, b1, "doc_id", "text")
    val appended = Dedup.incrementalNearDupIndexed(idx2, b2, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // truth: the one-shot operator over the grown corpus (different
    // prefix order — union df vs frozen corpus df — but both orders
    // admit a candidate superset and the exact verify decides)
    val fresh = Dedup.incrementalNearDup(corpus.unionAll(b1), b2,
        "doc_id", "text", shingleN = 3, thresholdNum = 2, thresholdDen = 5)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(appended == fresh)
    // appended batch-1 documents are visible: a batch containing a doc
    // IDENTICAL to a batch-1 doc must come back exact
    import spark.implicits._
    val planted = b1.limit(1).collect()(0)
    val probe = Seq((999999L, planted.getString(planted.fieldIndex("text"))))
      .toDF("doc_id", "text")
    val v = Dedup.incrementalNearDupIndexed(idx2, probe, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(v(999999L) == "exact")
    graft.queries.Engines.releaseAll(blocking = true)
  }

  // ---- KMV merge property --------------------------------------------------

  test("kmv merge: sketch of union == merge of sketches, every split") {
    val events = graft.Tables.load(spark, dir, "events")
    val whole = Sketches.kmvSketch(events, "user_id", "event_type", k = 32)
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    for (m <- Seq(2, 3, 5)) {
      val parts = (0 until m).map(i =>
        Sketches.kmvSketch(events.filter(pmod(col("event_id"), lit(m)) === i),
          "user_id", "event_type", k = 32))
      val merged = parts.reduce((a, b) => Sketches.kmvMerge(a, b, k = 32))
        .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
      assert(merged == whole, s"merge property failed for $m-way split")
    }
  }

  test("kmv merge: estimates equal the direct estimate (planted + exact tier)") {
    import spark.implicits._
    // 10 distinct values split unevenly — below k, both paths exact
    val df = (1L to 40L).map(v => (v, s"g${v % 2}", v % 10)).toDF("id", "g", "v")
    val direct = Sketches.kmvDistinct(df, "v", "g", k = 16)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(direct == Map("g0" -> 5L, "g1" -> 5L))
    val merged = Sketches.kmvEstimate(Sketches.kmvMerge(
        Sketches.kmvSketch(df.filter(col("id") <= 20), "v", "g", k = 16),
        Sketches.kmvSketch(df.filter(col("id") > 20), "v", "g", k = 16),
        k = 16), k = 16)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(merged == direct)
  }

  test("kmv merge: a NULL group merges into ONE row (null-safe join)") {
    import spark.implicits._
    val df = Seq((1L, Option("a"), 10L), (2L, None, 20L), (3L, None, 30L),
      (4L, Option("a"), 40L), (5L, None, 20L)).toDF("id", "g", "v")
    val whole = Sketches.kmvSketch(df, "v", "g", k = 8)
      .collect().map(r => Option(r.getString(0)) -> r.getSeq[Long](1)).toMap
    val merged = Sketches.kmvMerge(
        Sketches.kmvSketch(df.filter(col("id") <= 2), "v", "g", k = 8),
        Sketches.kmvSketch(df.filter(col("id") > 2), "v", "g", k = 8),
        k = 8)
      .collect().map(r => Option(r.getString(0)) -> r.getSeq[Long](1))
    assert(merged.length == merged.map(_._1).distinct.length,
      "a group must appear once after merge")
    assert(merged.toMap == whole)
    assert(merged.toMap.contains(None), "the NULL group must survive the merge")
  }

  test("quality quantile approx: a constant-score source keeps ≈ 1−q") {
    import spark.implicits._
    // every doc same text → one score; a bare threshold would drop ALL
    val docs = (1L to 200L).map(i => (i, "same text for every doc here", "s"))
      .toDF("doc_id", "text", "source")
    val out = Curation.qualityQuantileFilterApprox(
      docs, "doc_id", "text", "source", qNum = 1, qDen = 4).collect()
    val kept = out.count(_.getBoolean(3))
    // target drop = ⌊200/4⌋ = 50, hash split lands near it (binomial)
    assert(kept > 120 && kept < 180, s"kept $kept of 200 — tie split broken")
    // deterministic: a second run keeps the identical id set
    val again = Curation.qualityQuantileFilterApprox(
      docs, "doc_id", "text", "source", qNum = 1, qDen = 4).collect()
    assert(out.filter(_.getBoolean(3)).map(_.getLong(0)).toSet ==
      again.filter(_.getBoolean(3)).map(_.getLong(0)).toSet)
  }

  // ---- BMP codec -----------------------------------------------------------

  test("bmp codec: decode undoes bottom-up rows and padding exactly") {
    import spark.implicits._
    val text = "The quick brown fox jumps over the lazy dog 0123456789"
    val df = Seq((7L, text)).toDF("doc_id", "text")
    val enc = Multimodal.encodeBmp(df, "doc_id", "text")
    val payload = enc.collect()(0).data
    val raw = text.getBytes("UTF-8")
    val (w, h) = (8 + raw.length % 32, 8 + (raw.length * 7) % 32)
    // container facts: magic, little-endian geometry, padded bottom-up rows
    assert(payload(0) == 'B'.toByte && payload(1) == 'M'.toByte)
    val buf = java.nio.ByteBuffer.wrap(payload).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    assert(buf.getInt(18) == w && buf.getInt(22) == h && buf.getShort(28) == 24)
    val rowSize = (3 * w + 3) / 4 * 4
    assert(payload.length == 54 + rowSize * h)
    // identity resize exercises the full decode→re-encode round trip;
    // the plane hash must equal the hash of the logical cycled bytes
    val meta = Multimodal.bmpPlaneMeta(Multimodal.resizeBmp(enc, 1, 1)).collect()(0)
    var acc = 0L
    (0 until w * h * 3).foreach { i =>
      acc = (acc * 131L + (raw(i % raw.length) & 0xFF)) % 1000000007L
    }
    assert(meta.width == w && meta.height == h && meta.plane_hash == acc)
    // stored first row is the LOGICAL LAST row (bottom-up proof)
    val firstStored = payload.slice(54, 54 + 3 * w)
    val logicalLast = Array.tabulate(3 * w)(i =>
      raw(((h - 1) * w * 3 + i) % raw.length))
    assert(firstStored.sameElements(logicalLast))
  }

  test("bmp codec: malformed payloads fail loudly") {
    import spark.implicits._
    val bad = Seq((1L, "PX junk that is not a bmp")).toDF("doc_id", "text")
    val items = Multimodal.encodeBmp(bad, "doc_id", "text")
      .map(m => m.copy(data = m.data.take(10)))(
        org.apache.spark.sql.Encoders.product[Multimodal.MediaItem])
    val e = intercept[org.apache.spark.SparkException] {
      Multimodal.bmpPlaneMeta(items).collect()
    }
    assert(e.getMessage != null)
  }

  // ---- quality-quantile approx tier ---------------------------------------

  test("quality quantile: approx tier disagrees only within the tie band") {
    val exact = Curation.qualityQuantileFilter(docs, "doc_id", "text",
      "source", qNum = 1, qDen = 4).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getBoolean(3)))).toMap
    val approx = Curation.qualityQuantileFilterApprox(docs, "doc_id", "text",
      "source", qNum = 1, qDen = 4).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(exact.keySet == approx.keySet)
    // tie band per source: the scores within ±1 RANK of the exact
    // quantile boundary (rank floor(n/4), the last dropped rank under
    // the rank rule). The rank rule and a threshold test agree for
    // every row whose score differs from the boundary score; the
    // approximation can additionally land the threshold one rank off
    // (GK ε·n < 1 at this accuracy/size), so the closed band
    // [score@(b−1), score@(b+1)] is the exact contract of the tier.
    val bySource = exact.toSeq.groupBy(_._2._1)
    val band = bySource.map { case (src, rows) =>
      val sorted = rows.map { case (id, (_, score, _)) => (score, id) }.sorted
      val n = sorted.size
      val b = n / 4 // rk*4 <= n*1  ⇔  rk <= n/4
      val lo = sorted(math.max(b - 2, 0))._1
      val hi = sorted(math.min(b, n - 1))._1
      src -> ((lo, hi))
    }
    val disagree = exact.keys.filter(id => exact(id)._3 != approx(id)._3)
    disagree.foreach { id =>
      val (src, score, _) = exact(id)
      val (lo, hi) = band(src)
      assert(score >= lo && score <= hi,
        s"doc $id disagrees at score $score outside source $src tie band [$lo, $hi]")
    }
  }

  test("quality quantile: auto gate dispatches by max per-source count") {
    // fixture sources hold far more than 3 rows each → approx tier; the
    // approx tier carries no window, so its plan has no per-source sort
    val viaGate = Curation.qualityQuantileAuto(docs, "doc_id", "text",
      "source", qNum = 1, qDen = 4, approxOverRows = 3L)
    val plan = viaGate.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"gate did not pick the approx tier:\n$plan")
    // a huge gate keeps the exact tier (rank rule ⇒ window present)
    val exactPlan = Curation.qualityQuantileAuto(docs, "doc_id", "text",
      "source", qNum = 1, qDen = 4, approxOverRows = Long.MaxValue)
      .queryExecution.executedPlan.toString
    assert(exactPlan.contains("Window"), "gate left the exact tier unexpectedly")
  }
}
