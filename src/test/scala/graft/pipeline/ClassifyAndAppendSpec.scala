package graft.pipeline

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.GraftSparkBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** `Dedup.classifyAndAppend` hands back its verdicts already computed:
  * one persisted frame, filled by the same action as the index deltas,
  * so the reads that follow in an ingestion loop (the verdict list, a
  * per-source count, the INSERT that stores the batch) scan that cache
  * instead of each re-running the verdict pipeline. The cached rows
  * are the one-shot operator's, also after an INSERT into the corpus
  * table and after a release forces a recompute. */
class ClassifyAndAppendSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .appName("classify-and-append-spec").master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  override def afterAll(): Unit = spark.stop()

  /** 200 documents of 30 distinct tokens each. The batch is every 5th
    * one: doc 20k + 10 is its predecessor's text re-spaced (exact),
    * doc 10k + 5 its predecessor with one token replaced (near), and
    * doc 20k shares nothing with any other (new). */
  private lazy val docs: DataFrame = {
    import spark.implicits._
    def tokens(i: Int) = (0 until 30).map(j => s"t${i}x$j")
    (0 until 200).map { i =>
      val text =
        if (i % 20 == 10) "  " + tokens(i - 1).mkString("   ") + " "
        else if (i % 10 == 5) ("edit" +: tokens(i - 1).tail).mkString(" ")
        else tokens(i).mkString(" ")
      (i.toLong, text)
    }.toDF("doc_id", "text")
  }
  private def corpus: DataFrame = docs.filter(col("doc_id") % 5 =!= 0)
  private def batch: DataFrame = docs.filter(col("doc_id") % 5 === 0)

  private def build(corpus: DataFrame): Dedup.CorpusShingleIndex =
    Dedup.buildCorpusShingleIndex(corpus, "doc_id", "text",
      shingleN = 3, thresholdNum = 2, thresholdDen = 5)

  private def rows(df: DataFrame): Seq[(Long, String)] =
    df.collect().map(r => r.getLong(0) -> r.getString(1)).toSeq

  /** The one-shot operator's rows. It tracks caches of its own, which
    * are dropped here: a later call over the same batch would alias
    * them instead of persisting its own. */
  private def oneShot(corpus: DataFrame, batch: DataFrame): Seq[(Long, String)] =
    try rows(Dedup.incrementalNearDup(corpus, batch, "doc_id", "text",
      shingleN = 3, thresholdNum = 2, thresholdDen = 5))
    finally PipelineCaches.releaseAll(blocking = true)

  private def cached(df: DataFrame) =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
      .lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])

  private def loaded(df: DataFrame): Boolean =
    cached(df).exists(_.cachedRepresentation.cacheBuilder.isCachedColumnBuffersLoaded)

  private def release(idx: Dedup.CorpusShingleIndex): Unit = {
    idx.release(blocking = true)
    PipelineCaches.releaseAll(blocking = true)
  }

  test("the returned verdicts are already cached and loaded") {
    val (verdicts, grown) = Dedup.classifyAndAppend(build(corpus), batch, "doc_id", "text")
    assert(loaded(verdicts), "classifyAndAppend returned verdicts with no loaded cache")
    assert(rows(verdicts).groupBy(_._2).map { case (v, rs) => v -> rs.size } ==
      Map("exact" -> 10, "near" -> 20, "new" -> 10))
    release(grown)
  }

  test("collecting the returned verdicts starts at most one Spark job") {
    val (verdicts, grown) = Dedup.classifyAndAppend(build(corpus), batch, "doc_id", "text")
    val sc = spark.sparkContext
    val group = "classify-and-append-spec.read"
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        // the local property SparkContext.setJobGroup sets
        if (Option(js.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      GraftSparkBridge.drainListenerBus(sc)
      sc.setJobGroup(group, "read the verdicts")
      val got = try verdicts.collect() finally sc.clearJobGroup()
      GraftSparkBridge.drainListenerBus(sc)
      assert(got.nonEmpty)
      assert(jobs.get() <= 1, s"reading the verdicts started ${jobs.get()} jobs")
    } finally sc.removeSparkListener(listener)
    release(grown)
  }

  test("verdicts survive an engine INSERT into the corpus table") {
    val engine = new graft.engine.Engine(spark, new graft.engine.Catalog(spark))
    engine.catalog.registerBase(docs, "cav_docs")
    engine.execute("drop table if exists cav_corpus")
    engine.execute("create table cav_corpus (doc_id Int64, text String)")
    engine.execute("insert into cav_corpus select doc_id, text from cav_docs where doc_id % 5 <> 0")
    val idx = build(engine.execute("select doc_id, text from cav_corpus"))
    val (verdicts, grown) = Dedup.classifyAndAppend(idx, batch, "doc_id", "text")
    // the ingestion loop's write: the batch joined with its verdicts
    engine.catalog.registerBase(batch, "cav_batch")
    engine.catalog.registerBase(verdicts, "cav_verdicts")
    engine.execute("insert into cav_corpus select b.doc_id, b.text from cav_batch as b " +
      "join cav_verdicts as v on b.doc_id = v.id")
    assert(loaded(verdicts), "the INSERT dropped the verdict cache")
    assert(rows(verdicts) == oneShot(corpus, batch))
    release(grown)
    engine.execute("drop table if exists cav_corpus")
  }

  test("released verdicts recompute the one-shot rows") {
    val (verdicts, grown) = Dedup.classifyAndAppend(build(corpus), batch, "doc_id", "text")
    release(grown)
    assert(cached(verdicts).isEmpty, "the release kept the verdict cache")
    assert(rows(verdicts) == oneShot(corpus, batch))
  }

  test("one call persists exactly the three deltas and the verdict cache") {
    val sc = spark.sparkContext
    val idx = build(corpus)
    val before = sc.getPersistentRDDs.keySet
    val (verdicts, grown) = Dedup.classifyAndAppend(idx, batch, "doc_id", "text")
    val added = sc.getPersistentRDDs.keySet -- before
    val deltas = grown.cachedPieces.drop(idx.cachedPieces.size)
    assert(deltas.size == 3)
    val want = (deltas :+ verdicts).map(df =>
      cached(df).getOrElse(fail(s"an expected frame is not cached: $df"))
        .cachedRepresentation.cacheBuilder.cachedColumnBuffers.id).toSet
    assert(added == want,
      s"one call persisted ${added.size} RDD(s) $added, want the 4 of $want " +
        "(fps/prefix/arrs deltas + verdicts)")
    release(grown)
  }
}
