package graft.engine

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.GraftSparkBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** A correlated subquery that mixes an equality with a range
  * (`ik = ok AND x > ot`) binds without running a Spark job, in every
  * theta lowering that builds an (outer, inner) pair frame, and returns
  * DuckDB's rows. The equality is the pair join's hash key and the range
  * its residual, so nothing needs an outer count or band statistics at
  * bind time.
  *
  * The fixture has an outer row whose key matches nothing (id 4), a
  * NULL equality key on either side (outer id 5, one inner row), a NULL
  * range operand on either side (outer id 6, one inner row), a NULL
  * value in a non-empty set (ids 3 and 7) and a NULL IN lhs (id 8).
  * Expected rows: DuckDB 1.0.0 on the same tables. */
class ThetaBindJobsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var engine: Engine = _
  private val buildKey = "graft.test.bind"
  private val buildJobs = new AtomicInteger(0)

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .appName("theta-bind-jobs-spec").master("local[2]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(_.getProperty(buildKey) != null))
          buildJobs.incrementAndGet()
    })
    engine = new Engine(spark, new Catalog(spark))
    Seq("bj_o", "bj_i").foreach(t => engine.execute(s"DROP TABLE IF EXISTS $t"))
    engine.execute("CREATE TABLE bj_o (id Int64, ok Int64, ot Int64, u Int64)")
    engine.execute("""INSERT INTO bj_o VALUES (1, 1, 10, 300), (2, 1, 25, 100),
        (3, 2, 5, 400), (4, 3, 0, 700), (5, null, 10, 600), (6, 2, null, 400),
        (7, 2, 5, 999), (8, 1, 10, null)""")
    engine.execute("CREATE TABLE bj_i (ik Int64, x Int64, v Int64, g Int64)")
    engine.execute("""INSERT INTO bj_i VALUES (1, 5, 100, 1), (1, 15, 200, 1),
        (1, 30, 300, 2), (2, 10, 400, 1), (2, null, 500, 2), (2, 20, null, 2),
        (null, 50, 600, 1)""")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** The query's DataFrame and the number of Spark jobs its parse and
    * bind started (the jobs tagged with a local property set around the
    * build, counted once the listener bus has drained). */
  private def build(q: String): (DataFrame, Int) = {
    val sc = spark.sparkContext
    GraftSparkBridge.drainListenerBus(sc)
    buildJobs.set(0)
    sc.setLocalProperty(buildKey, "1")
    val df = try engine.execute(q) finally sc.setLocalProperty(buildKey, null)
    GraftSparkBridge.drainListenerBus(sc)
    (df, buildJobs.get())
  }

  private val corr = "ik = ok AND x > ot"
  private def perRow(sub: String) = s"SELECT id, $sub AS r FROM bj_o ORDER BY id"
  private def ids(cond: String) = s"SELECT id FROM bj_o WHERE $cond ORDER BY id"
  private val N = null

  // (lowering, query, expected rows)
  private val cases: Seq[(String, String, Seq[Seq[Any]])] = Seq(
    ("ungrouped-aggregate scalar", perRow(s"(SELECT sum(v) FROM bj_i WHERE $corr)"),
      Seq(500L, 300L, 400L, N, N, N, 400L, 500L)),
    ("ungrouped count scalar", perRow(s"(SELECT count(*) FROM bj_i WHERE $corr)"),
      Seq(2L, 1L, 2L, 0L, 0L, 0L, 2L, 2L)),
    ("ungrouped-aggregate scalar with HAVING",
      perRow(s"(SELECT count(*) FROM bj_i WHERE $corr HAVING sum(v) > 250)"),
      Seq(2L, 1L, 2L, N, N, N, 2L, 2L)),
    ("bare-lookup scalar", perRow(s"(SELECT v FROM bj_i WHERE $corr + 10)"),
      Seq(300L, N, N, N, N, N, N, 300L)),
    ("plain IN", perRow(s"u IN (SELECT v FROM bj_i WHERE $corr)"),
      Seq(true, false, true, false, false, false, N, N)),
    ("grouped IN", perRow(s"u IN (SELECT max(v) FROM bj_i WHERE $corr GROUP BY g)"),
      Seq(true, false, true, false, false, false, N, N)),
    ("LIMIT IN", perRow(s"u IN (SELECT v FROM bj_i WHERE $corr ORDER BY x LIMIT 1)"),
      Seq(false, false, true, false, false, false, false, N)),
    ("ORDER BY … LIMIT 1 scalar",
      perRow(s"(SELECT v FROM bj_i WHERE $corr ORDER BY v LIMIT 1)"),
      Seq(200L, 300L, 400L, N, N, N, 400L, 200L))
  ).map { case (n, q, vs) => (n, q, vs.zipWithIndex.map { case (v, i) => Seq(i + 1L, v) }) } ++
    Seq(
      ("GROUP BY EXISTS under OR", ids(s"id = 6 OR EXISTS (SELECT g FROM bj_i " +
        s"WHERE $corr GROUP BY g HAVING sum(v) > 350)"), Seq(3L, 6L, 7L)),
      ("plain EXISTS under OR", ids(s"id = 6 OR EXISTS (SELECT 1 FROM bj_i WHERE $corr)"),
        Seq(1L, 2L, 3L, 6L, 7L, 8L))
    ).map { case (n, q, vs) => (n, q, vs.map(Seq(_))) }

  test("equality + theta correlations bind with no Spark job, with DuckDB's rows") {
    val wrong = cases.flatMap { case (name, q, want) =>
      scala.util.Try(build(q)).fold(e => Seq(s"$name: $e"), { case (df, jobs) =>
        Option.when(jobs != 0)(s"$name: $jobs Spark jobs while binding").toSeq ++
          scala.util.Try(df.collect().toSeq.map(_.toSeq)).fold(
            e => Some(s"$name: $e"),
            got => Option.when(got != want)(s"$name: $got"))
      })
    }
    assert(wrong.isEmpty, wrong.mkString("\n"))
  }
}
