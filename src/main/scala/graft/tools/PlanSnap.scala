package graft.tools

import java.nio.file.{Files, Paths}

/** Runs named queries into a noop sink and writes the physical plan
  * that RAN ([[RanPlans]]: the final adaptive plan, subquery plans
  * included) to files, plus one line of join-operator counts per query
  * (over the final plan only, [[RanPlans.finalOnly]]) in
  * `<outDir>/joins_<suffix>.tsv` — the evidence trail for a plan
  * diff between two builds (plans/r16/<q>_before/_after).
  *
  * Usage: runMain graft.tools.PlanSnap <outDir> <suffix> <query names…>
  * → <outDir>/<name>_<suffix>.txt per query.
  */
object PlanSnap {
  private val joinOps = Seq("BroadcastNestedLoopJoin", "CartesianProduct",
    "SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin")

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanSnap <outDir> <suffix> <names…>")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val (outDir, suffix, names) = (args(0), args(1), args.drop(2).toSeq)
    val spark = graft.Sessions.build("plan-snap")
    spark.sparkContext.setLogLevel("ERROR")
    val ran = new RanPlans(spark, {
      case _: org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand => "noop" })
    Files.createDirectories(Paths.get(outDir))
    val summary = names.map { n =>
      val df = graft.SparkEntry.queries(n)(spark, sfDir)
      df.write.format("noop").mode("overwrite").save()
      val plan = ran.await("noop")
      Files.writeString(Paths.get(outDir, s"${n}_$suffix.txt"), plan)
      // entries with eager internals leave caches behind — drop them so
      // the next dump's plan isn't shaped by a predecessor's cache
      graft.queries.Engines.releaseAll(blocking = true)
      println(s"[plansnap] wrote $n ($suffix)")
      val fin = RanPlans.finalOnly(plan)
      (n +: joinOps.map(op => fin.sliding(op.length).count(_ == op).toString)).mkString("\t")
    }
    Files.writeString(Paths.get(outDir, s"joins_$suffix.tsv"),
      (("query" +: joinOps).mkString("\t") +: summary).mkString("", "\n", "\n"))
    spark.stop()
  }
}
