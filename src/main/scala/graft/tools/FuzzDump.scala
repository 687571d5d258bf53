package graft.tools

import java.nio.file.{Files, Paths}

import graft.Sessions
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand

/** Differential-fuzz runner: executes `tools/fuzzgen.py` queries
  * through the ENGINE text path on deterministic fixture tables and
  * dumps results + oracle SQL in the exact layout `tools/check.py`
  * consumes — so the DuckDB compare machinery is reused unchanged.
  * Each oracle is the SAME query text prefixed with DuckDB DDL
  * rebuilding the fixtures from the SAME literal rows (multi-statement
  * oracles return the last result). An engine error is a SKIP, not a
  * failure — the generator deliberately wanders to the dialect's
  * edges; a result MISMATCH is the bug being hunted.
  *
  * Usage: runMain graft.tools.FuzzDump <queries.tsv> <sfDir> <outDir>
  */
object FuzzDump {

  /** One literal row list shared by the engine INSERT and the oracle
    * INSERT — generated, never hand-copied, so the two sides cannot
    * drift. y is NULL every 5th row, z every 7th-ish: the NULL corners
    * are the point. */
  private val fixtureRows: String = (1 to 40).map { rid =>
    val k = rid % 14
    val x = rid % 3 + 1
    val y = if (rid % 5 == 0) "null" else (7 + rid % 3).toString
    val z = if (rid % 7 == 3) "null" else (rid % 5 + 1).toString
    s"($rid, $k, $x, $y, $z)"
  }.mkString(", ")

  private val outerRows: String = (1 to 12).map(ok => s"($ok)").mkString(", ")

  /** 1..12 plus duplicates — EXISTS over the middle must stay
    * multiplicity-blind. */
  private val middleRows: String =
    ((1 to 12) ++ Seq(3, 3, 7, 7)).map(g => s"($g)").mkString(", ")

  private val engineDdl = Seq(
    "drop table if exists fz_a",
    "drop table if exists fz_m",
    "drop table if exists fz_b",
    "create table fz_a (ok Int64)",
    s"insert into fz_a values $outerRows",
    "create table fz_m (g Int64)",
    s"insert into fz_m values $middleRows",
    "create table fz_b (rid Int64, k Int64, x Int64, y Int64, z Int64)",
    s"insert into fz_b values $fixtureRows")

  private val oraclePrefix: String =
    "CREATE OR REPLACE TABLE fz_a (ok BIGINT); " +
      s"INSERT INTO fz_a VALUES $outerRows; " +
      "CREATE OR REPLACE TABLE fz_m (g BIGINT); " +
      s"INSERT INTO fz_m VALUES $middleRows; " +
      "CREATE OR REPLACE TABLE fz_b (rid BIGINT, k BIGINT, x BIGINT, y BIGINT, z BIGINT); " +
      s"INSERT INTO fz_b VALUES $fixtureRows; "

  def main(args: Array[String]): Unit = {
    val (qfile, sfDir, outDir) = (args(0), args(1), args(2))
    val spark = Sessions.build("graft-fuzz")
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    // the plan profile is the plan of the parquet write that ran
    val ran = new RanPlans(spark, {
      case w: InsertIntoHadoopFsRelationCommand => w.outputPath.getName })
    val eng = graft.queries.Engines.get(spark, sfDir)
    engineDdl.foreach(eng.execute(_))
    val lines = new String(Files.readAllBytes(Paths.get(qfile)), "UTF-8")
      .split('\n').toSeq.filter(_.contains('\t'))
    val ok = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // per-query physical-plan profile (round 12, VERDICT r11 #5): the
    // fast-path fresh-column markers present in the executed plan plus
    // join-operator counts, cross-checked against the generator's axis
    // class by tools/plancheck.py — a silent gate flip on a NON-driver
    // shape is invisible to the result compare (correct-but-generic)
    val prof = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // `__tmk_` is the presence-marker pair join of a theta
    // ungrouped-aggregate body (rid `__turid_`) or a plain unsliced theta
    // IN body (rid `__trid_`)
    val markerVocab = Seq("__vtthr_", "__vtg_", "__tirid_", "__tlrid_",
      "__tlthr_", "__scce_", "__ssidx_", "__sstb_", "__tgrid_", "__tsrid_",
      "__terid_", "__tbb_", "__pcv_", "__pdbest_", "__mtsalt_", "__xtrid_",
      "__trid_", "__gfpre_", "__pfrid_", "__nerid_", "__aerid_", "__xnrid_",
      "__plv_", "__gfrn_", "__tmk_", "__turid_")
    var skipped = 0
    lines.foreach { l =>
      val parts = l.split('\t')
      val name = parts(0)
      val sql = parts(1)
      // third column: a DuckDB-dialect rewrite of the same query
      // ('-' = none, e.g. LIMIT ... WITH TIES as a rank() QUALIFY);
      // fourth: the generator's axis-class tags
      val oracleSql =
        if (parts.length > 2 && parts(2) != "-") parts(2) else sql
      val cls = if (parts.length > 3) parts(3) else ""
      try {
        val df = eng.execute(sql)
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        val p = ran.await(name)
        ok += name -> (oraclePrefix + oracleSql)
        if (sys.env.contains("GRAFT_FUZZ_PLANPRINT")) println(s"== $name ==\n$p")
        // join operators are counted over the operators that ran: the
        // `== Initial Plan ==` subtrees repeat every join, including
        // the ones AQE replaced at run time
        val fin = RanPlans.finalOnly(p)
        def c(in: String, s: String) = in.sliding(s.length).count(_ == s)
        val ms = markerVocab.filter(p.contains)
          .map("\"" + _ + "\"").mkString(",")
        prof += name -> (s"""{"class":"$cls","markers":[$ms],""" +
          s""""bnlj":${c(fin, "BroadcastNestedLoopJoin")},""" +
          s""""smj":${c(fin, "SortMergeJoin")},"bhj":${c(fin, "BroadcastHashJoin")},""" +
          s""""shj":${c(fin, "ShuffledHashJoin")},"cart":${c(fin, "CartesianProduct")},""" +
          s""""nonfinal":${c(p, "isFinalPlan=false")}}""")
      } catch {
        case e: Throwable =>
          skipped += 1
          System.err.println(s"[fuzz] SKIP $name: " +
            String.valueOf(e.getMessage).takeWhile(_ != '\n').take(160))
      }
      graft.queries.Engines.releaseAll()
    }
    Files.writeString(Paths.get(s"$outDir/plan_profile.json"),
      prof.map { case (k, v) => s""""$k": $v""" }.mkString("{", ",", "}"))
    def q(s: String): String = graft.JsonUtil.quote(s)
    val json = ok.map { case (k, v) => s"${q(k)}: ${q(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    println(s"[fuzz] ran ${ok.size} ok, skipped $skipped")
    spark.stop()
  }
}
