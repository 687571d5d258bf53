package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{Row, SparkSession}
import graft.engine.{Catalog, Engine}
import graft.nutql.Parser
import graft.pipeline.{Dedup, PipelineCaches}

/** One line of a plan file: `kind \t rows \t arg`. `rows` is the number
  * of rows the operation writes (0 for reads). */
final case class Op(kind: String, rows: Long, arg: String)

/** The benchmark's single client. It holds the engine session state of
  * one workload and runs plan operations against the public API:
  *
  *  - `base`    register a parquet file as a read-only table
  *  - `query`   NutQL SELECT: parse, `Engine.run`, collect
  *  - `write`   NutQL DDL/DML: parse, `Engine.run` (eager), collect status
  *  - `index`   build the dedup index over a NutQL SELECT's rows
  *  - `batch`   `Dedup.classifyAndAppend` of a parquet batch; the batch and
  *              its verdict frame become tables `batch_docs` and `verdicts`
  *  - `rebuild` drop the index and build it again over a NutQL SELECT
  *  - `cap_probe` build an index over copies of one text with a posting
  *              cap below the copy count: every posting bucket is over
  *              the cap, so the dropped-postings audit must see drops
  */
final class Client(spark: SparkSession, var tracer: Tracer) {
  val catalog = new Catalog(spark)
  val engine = new Engine(spark, catalog)
  var index: Option[Dedup.CorpusShingleIndex] = None
  var droppedPostings = 0L
  var capProbeDropped: Option[Long] = None
  val buildMs = mutable.ArrayBuffer.empty[Double]

  private def buildIndex(sql: String, spanName: String): Unit = {
    val stmt = tracer.span("nutql.parse", "nutql")(Parser.parse(sql))
    val corpus = tracer.span("engine.bind", "engine")(engine.run(stmt))
    val t0 = System.nanoTime()
    val idx = tracer.span(spanName, "pipeline") {
      Dedup.buildCorpusShingleIndex(corpus, "doc_id", "text",
        shingleN = 3, thresholdNum = 1, thresholdDen = 2)
    }
    buildMs += (System.nanoTime() - t0) / 1e6
    droppedPostings = math.max(droppedPostings, idx.droppedPostings)
    index = Some(idx)
  }

  private def statement(sql: String, layerSpan: String): Array[Row] = {
    val stmt = tracer.span("nutql.parse", "nutql")(Parser.parse(sql))
    val df = tracer.span(layerSpan, "engine")(engine.run(stmt))
    tracer.span("exec.action", "exec")(df.collect())
  }

  /** Runs one operation; returns the rows a query produced. */
  def run(op: Op): Option[Array[Row]] = op.kind match {
    case "base" =>
      val Array(name, path) = op.arg.split(" ", 2)
      catalog.registerBase(spark.read.parquet(path), name)
      None
    case "query" => Some(statement(op.arg, "engine.bind"))
    case "write" =>
      statement(op.arg, "engine.write")
      None
    case "index" =>
      buildIndex(op.arg, "pipeline.build")
      None
    case "batch" =>
      val batch = tracer.span("exec.read", "exec")(spark.read.parquet(op.arg))
      val (verdicts, grown) = tracer.span("pipeline.classify_append", "pipeline") {
        Dedup.classifyAndAppend(index.get, batch, "doc_id", "text")
      }
      droppedPostings = math.max(droppedPostings, grown.droppedPostings)
      index = Some(grown)
      catalog.registerBase(batch, "batch_docs")
      catalog.registerBase(verdicts, "verdicts")
      None
    case "rebuild" =>
      tracer.span("cache.release", "cache") {
        index.foreach(_.release())
        PipelineCaches.releaseAll()
      }
      buildIndex(op.arg, "pipeline.rebuild")
      None
    case "cap_probe" =>
      val copies = spark.range(8).selectExpr("id as doc_id", "'one text in many copies' as text")
      val idx = Dedup.buildCorpusShingleIndex(copies, "doc_id", "text", maxPosting = 4)
      capProbeDropped = Some(idx.droppedPostings)
      idx.release(blocking = true)
      None
    case other => throw new IllegalArgumentException(s"unknown plan op '$other'")
  }

  /** Files under the current location of every engine-created table. */
  def tableFiles(): Long = catalog.names.flatMap(catalog.get).collect {
    case t: catalog.TableEntry if t.path.isDefined => Main.countFiles(Paths.get(t.path.get))
  }.sum

  /** Rows held by the engine-created tables. */
  def storedRows(): Long = catalog.names.flatMap(catalog.get).collect {
    case t: catalog.TableEntry if t.path.isDefined => t.df().count()
  }.sum

  def release(): Unit = {
    engine.releaseCaches(blocking = true)
    index.foreach(_.release(blocking = true))
    PipelineCaches.releaseAll(blocking = true)
  }

  def close(): Unit = {
    release()
    Main.deleteTree(Paths.get(catalog.warehouseDir))
  }
}

object Main {
  private val json = new ObjectMapper()

  /** Set-ups per run after the warm-up; `setup_s` is their median. */
  val SetupReps = 5

  def readPlan(f: File): Seq[Op] =
    if (!f.exists) Nil
    else scala.io.Source.fromFile(f, "UTF-8").getLines().filter(_.nonEmpty).map { l =>
      val Array(kind, rows, arg) = l.split("\t", 3)
      Op(kind, rows.toLong, arg)
    }.toSeq

  def countFiles(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.count(f => Files.isRegularFile(f) &&
        !f.getFileName.toString.startsWith(".") &&
        !f.getFileName.toString.startsWith("_")).toLong
      finally s.close()
    }

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }

  private def gcTotals(): (Long, Long) = {
    val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(_.getCollectionTime).filter(_ >= 0).sum,
      beans.map(_.getCollectionCount).filter(_ >= 0).sum)
  }

  private def cell(v: Any): Any = v match {
    case null => null
    case d: java.math.BigDecimal => d.doubleValue
    case d: scala.math.BigDecimal => d.toDouble
    case s: scala.collection.Seq[_] => s.map(cell).asJava
    case r: Row => r.toSeq.map(cell).asJava
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case n: java.lang.Number => n
    case b: java.lang.Boolean => b
    case other => other.toString
  }

  private def storageUsed(spark: SparkSession): Long =
    spark.sparkContext.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val planDir = new File(opt("plan"))
    val out = new File(opt("out"))
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    out.mkdirs()

    val t00 = System.nanoTime()
    def mark(what: String): Unit =
      println(f"[harness] $what at ${(System.nanoTime() - t00) / 1e9}%.1f s")
    val spark = graft.Sessions.build("perfbench")
    mark("session")
    val sc = spark.sparkContext
    val setupPlan = readPlan(new File(planDir, "setup.tsv"))
    val warmPlan = readPlan(new File(planDir, "warm.tsv"))
    val ops = readPlan(new File(planDir, "ops.tsv")).toIndexedSeq
    val summary = new java.util.LinkedHashMap[String, Any]()
    val results = new PrintWriter(new File(out, "results.jsonl"), "UTF-8")

    // ---- warm-up on its own client and smaller inputs, then set-up,
    // repeated; the last client serves the loop ----
    val untraced = new Tracer(sc, enabled = false)
    val warm = new Client(spark, untraced)
    warmPlan.foreach(warm.run)
    warm.capProbeDropped.foreach(n => summary.put("cap_probe_dropped", n))
    warm.close()
    mark("warm-up")
    def setUp(tracer: Tracer): Client = {
      val c = new Client(spark, tracer)
      setupPlan.foreach(c.run)
      c
    }
    var client: Client = null
    val buildMs = mutable.ArrayBuffer.empty[Double]
    val setupSecs = (1 to SetupReps).map { _ =>
      if (client != null) client.close()
      val t0 = System.nanoTime()
      client = setUp(untraced)
      buildMs ++= client.buildMs
      (System.nanoTime() - t0) / 1e9
    }
    summary.put("setup_s", setupSecs.asJava)
    summary.put("setup_index_build_ms", buildMs.asJava)
    mark("set-up")

    // ---- closed loop: one client, the next op starts when one ends ----
    // Runs ops from `first` until the time budget is spent and the op
    // count is a whole number of `cycle`s, or until `maxOps` ops ran.
    def pass(name: String, tracer: Tracer, budgetSec: Double, first: Int,
        maxOps: Int, cycle: Int): Int = {
      val jobs = new JobListener
      val phases = new PhaseListener
      if (tracer.enabled) {
        sc.addSparkListener(jobs)
        spark.listenerManager.register(phases)
      }
      val c = client
      c.tracer = tracer
      val records = new java.util.ArrayList[Any]()
      val (gcMs0, gcN0) = gcTotals()
      var storagePeak = storageUsed(spark)
      val start = System.nanoTime()
      val deadline =
        if (budgetSec >= Long.MaxValue / 1e9) Long.MaxValue else start + (budgetSec * 1e9).toLong
      var i = first
      while (i < ops.size && i - first < maxOps &&
          (System.nanoTime() < deadline || (i - first) % cycle != 0)) {
        val op = ops(i)
        tracer.currentOp = i
        val t0 = System.nanoTime()
        val outcome = scala.util.Try(tracer.span("op", "harness")(c.run(op)))
        val t1 = System.nanoTime()
        val rec = new java.util.LinkedHashMap[String, Any]()
        rec.put("op", i); rec.put("kind", op.kind); rec.put("rows", op.rows)
        outcome.failed.foreach(e => rec.put("error", String.valueOf(e.getMessage)))
        val rows = outcome.toOption.flatten
        rec.put("t0_ms", tracer.epochMs(t0)); rec.put("t1_ms", tracer.epochMs(t1))
        rec.put("ms", (t1 - t0) / 1e6)
        if (tracer.enabled) {
          storagePeak = math.max(storagePeak, storageUsed(spark))
          if (op.kind == "query") rec.put("table_files", c.tableFiles())
          rec.put("warehouse_files", countFiles(Paths.get(c.catalog.warehouseDir)))
          rec.put("persisted_rdds", sc.getPersistentRDDs.size)
        }
        records.add(rec)
        rows.foreach { rs =>
          val line = new java.util.LinkedHashMap[String, Any]()
          line.put("pass", name); line.put("op", i)
          line.put("rows", rs.toSeq.map(r => r.toSeq.map(cell).asJava).asJava)
          results.println(json.writeValueAsString(line))
        }
        i += 1
      }
      val wall = (System.nanoTime() - start) / 1e9
      val (gcMs1, gcN1) = gcTotals()
      val p = new java.util.LinkedHashMap[String, Any]()
      p.put("name", name); p.put("traced", tracer.enabled)
      p.put("wall_s", wall); p.put("ops", records)
      p.put("gc_ms", gcMs1 - gcMs0); p.put("gc_count", gcN1 - gcN0)
      p.put("storage_peak_bytes", storagePeak)
      if (tracer.enabled) {
        org.apache.spark.PerfbenchBusDrain(sc)
        sc.removeSparkListener(jobs)
        spark.listenerManager.unregister(phases)
        p.put("spans", tracer.spans.map { s =>
          Seq(s.id, s.parent, s.op, s.name, s.layer,
            tracer.epochMs(s.t0), tracer.epochMs(s.t1)).asJava
        }.asJava)
        p.put("jobs", jobs.jobs.values.map { j =>
          val m = new java.util.LinkedHashMap[String, Any]()
          m.put("job", j.jobId); m.put("span", j.span)
          m.put("start", j.start); m.put("end", j.end)
          m.put("first_launch", if (j.firstLaunch == Long.MaxValue) j.start else j.firstLaunch)
          m.put("stages", j.stages); m.put("tasks", j.tasks)
          m.put("run_ms", j.runMs); m.put("cpu_ms", j.cpuNs / 1e6)
          m.put("input_bytes", j.inputBytes); m.put("shuffle_write_bytes", j.shuffleWrite)
          m.put("shuffle_read_bytes", j.shuffleRead); m.put("spill_bytes", j.spill)
          m.put("output_bytes", j.outputBytes)
          m
        }.toSeq.asJava)
        p.put("phases", phases.phases.map(ph => Seq(ph.name, ph.start, ph.end).asJava).asJava)
        tracer.spans.clear()
      }
      val passes = summary.computeIfAbsent("passes", _ => new java.util.ArrayList[Any]())
        .asInstanceOf[java.util.ArrayList[Any]]
      passes.add(p)
      i - first
    }

    val cycle = opt("cycle").toInt
    if (!traced) pass("main", untraced, seconds, 0, Int.MaxValue, cycle)
    else {
      // whole cycles of the workload's operations, alternately untraced
      // and traced, so both halves see the same mix and the same JIT
      // drift; the wall-time ratio of the halves is the tracing overhead
      val tracer = new Tracer(sc, enabled = true)
      val end = System.nanoTime() + (seconds * 1e9).toLong
      var (i, k) = (0, 0)
      while (i < ops.size && (System.nanoTime() < end || k % 2 == 1)) {
        i += (if (k % 2 == 0) pass("untraced", untraced, Double.MaxValue, i, cycle, cycle)
          else pass("traced", tracer, Double.MaxValue, i, cycle, cycle))
        k += 1
      }
      // the reference parser's two criterion inputs
      def perParse(sql: String, iters: Int): Double = {
        (1 to iters / 4).foreach(_ => Parser.parse(sql))
        val t0 = System.nanoTime()
        (1 to iters).foreach(_ => Parser.parse(sql))
        (System.nanoTime() - t0).toDouble / iters
      }
      summary.put("short_sql_ns", perParse(ReferenceSql.short, 40000))
      summary.put("long_sql_ns", perParse(ReferenceSql.long, 4000))
    }
    results.close()
    mark("loop")

    // ---- after the loop: storage, cache audit, retained heap ----
    summary.put("cores", sc.defaultParallelism)
    summary.put("storage_max_bytes",
      sc.getExecutorMemoryStatus.values.map(_._1).sum)
    summary.put("warehouse_bytes", treeBytes(Paths.get(client.catalog.warehouseDir)))
    summary.put("stored_rows", client.storedRows())
    summary.put("dropped_postings", client.droppedPostings)
    client.release()
    summary.put("persisted_rdds_after_release", sc.getPersistentRDDs.size)
    // what the session still holds once its caches are released: a leak
    // of driver-side state shows here. Broadcast and shuffle blocks go
    // once the context cleaner has seen their owners collected, hence
    // a few rounds of collect-and-wait.
    (1 to 4).foreach { _ => System.gc(); Thread.sleep(250) }
    summary.put("heap_after_gc_mb",
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0)
    client.close()
    mark("audit")
    val w = new PrintWriter(new File(out, "summary.json"), "UTF-8")
    w.println(json.writeValueAsString(summary))
    w.close()
    spark.stop()
    mark("stop")
  }
}

/** The reference parser's two criterion bench inputs ("short sql" and
  * "long sql"), verbatim. */
object ReferenceSql {
  val short = "SELECT * FROM table WHERE 1 = 1"
  val long: String = """SELECT
    e.employee_id AS `Employee #`,
    e.first_name + ' ' + e.last_name AS Name,
    e.email AS Email,
    e.phone_number AS Phone,
    toYYYYMMDD(e.hire_date) AS `Hire Date`,
    e.commission_pct AS `Comission %`,
    jh.job_id AS `History Job ID`,
    case jh.level >> jh.offset -- right shift
        when 0x1 then 'A'
        when 0x2 then 'B'
        when 0x3 then 'C'
        when 0x4 then 'D'
        when 0x5 then 'F'
        else jh.n * (jh.k + 1 * 3 % 4)
    end AS level
FROM employees AS e
/* some comment */
JOIN jobs AS j
  ON e.job_id = j.job_id
LEFT JOIN employees AS m
  ON e.manager_id = m.employee_id
LEFT JOIN departments AS d
  ON d.department_id = e.department_id
LEFT JOIN employees AS dm
  ON d.manager_id = dm.employee_id
LEFT JOIN locations AS l
  ON d.location_id = l.location_id
LEFT JOIN countries AS c
  ON l.country_id = c.country_id
LEFT JOIN regions AS r
  ON c.region_id = r.region_id
LEFT JOIN job_history AS jh
  ON e.employee_id = jh.employee_id
LEFT JOIN jobs AS jj
  ON jj.job_id = jh.job_id
LEFT JOIN departments AS dd
  ON dd.department_id = jh.department_id
ORDER BY
  e.employee_id"""
}
