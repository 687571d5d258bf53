package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.SparkSession

/** Plan-SHAPE pins for the theta plan zoo (round 11, VERDICT r10 #4).
  *
  * Seven theta lowerings (direct pair frame, banded, banded-grouped,
  * prefix-closed × 3, threshold collapse, staircases) sit behind
  * size/alignment/conjunct gates; a mis-gate silently flips a driver
  * entry back to the generic plan and timing alone is ±40 % noise.
  * Each entry here asserts a DISTINGUISHING physical-plan marker — the
  * fast path's fresh-column prefix (unique per lowering) plus join
  * structure — at sf0.01, the smallest scale where every size gate
  * engages the same plan as the bench scale. Each entry runs into a
  * noop sink and the pins read the plan that ran ([[tools.RanPlans]]:
  * AQE's final plan, its initial plan left out), so a runtime join
  * switch shows.
  *
  * Marker vocabulary (Binder fresh() prefixes):
  *   __vtthr_  value-threshold table (grouped theta IN collapse)
  *   __plv_    prefix-closed plain LIMIT IN
  *   __scce_   DISTINCT ON membership staircase (qe139)
  *   __ssidx_  scalar grouped top-1 staircase (qe146, round 11)
  *   __pcv_    prefix-closed DISTINCT ON keep-first
  *   __pdbest_ DISTINCT membership-by-best
  *   __tbb_    banded theta aggregation (band id column)
  *   __tirid_  generic grouped-IN rid frame
  *   __tgrid_  generic grouped-agg rid frame
  *   __terid_  generic EXISTS-survivors rid frame
  *   __tbando_ band pre-thin of the theta pair frame (outer band id)
  *   __tmk_    presence-marker pair join (ungrouped-aggregate and plain
  *             unsliced IN theta bodies)
  */
class PlanMarkerSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var ran: tools.RanPlans = _
  private val dir = "/root/testdata/sf0.01"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .appName("plan-marker-spec").master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    ran = new tools.RanPlans(spark, {
      case _: org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand => "noop" })
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def plan(name: String): String = {
    SparkEntry.queries(name)(spark, dir).write.format("noop").mode("overwrite").save()
    val p = tools.RanPlans.finalOnly(ran.await("noop"))
    queries.Engines.releaseAll()
    p
  }
  private def joins(p: String): Int =
    Seq("BroadcastNestedLoopJoin", "SortMergeJoin", "BroadcastHashJoin",
      "ShuffledHashJoin", "CartesianProduct").map(s =>
      p.sliding(s.length).count(_ == s)).sum
  private def count(p: String, s: String): Int =
    p.sliding(s.length).count(_ == s)

  private def check(name: String, must: Seq[String], mustNot: Seq[String],
      noBnlj: Boolean = false): Unit = test(s"plan markers: $name") {
    val p = plan(name)
    must.foreach(m => assert(p.contains(m), s"$name lost fast-path marker $m"))
    mustNot.foreach(m => assert(!p.contains(m),
      s"$name regressed to a plan containing $m"))
    assert(count(p, "CartesianProduct") == 0, s"$name plans a cartesian")
    if (noBnlj) assert(count(p, "BroadcastNestedLoopJoin") == 0,
      s"$name gained a BroadcastNestedLoopJoin")
  }

  private def checkJoinFree(name: String): Unit =
    test(s"plan markers: $name is join-free (threshold collapse)") {
      val p = plan(name)
      assert(joins(p) == 0, s"$name: the monotone-threshold collapse " +
        "should plan ZERO joins; a join means the collapse gate flipped")
      assert(!p.contains("__terid_"), s"$name fell back to the rid frame")
    }

  // value-threshold table; no grouped-IN rid frame, no BNLJ
  check("qe136_in_theta_grouped", Seq("__vtthr_"), Seq("__tirid_"),
    noBnlj = true)
  check("qe196_in_theta_grouped_merged_value", Seq("__vtthr_"),
    Seq("__tirid_"), noBnlj = true)

  // NOT IN over a capped outer: the documented generic grouped-IN pin
  // (the single BNLJ is the small-outer pair frame — SCALE.md Joins)
  test("plan markers: qe137_notin_theta_grouped_null stays the generic pin") {
    val p = plan("qe137_notin_theta_grouped_null")
    assert(p.contains("__tirid_"))
    assert(count(p, "BroadcastNestedLoopJoin") <= 1)
    assert(count(p, "CartesianProduct") == 0)
  }

  // prefix-closed plain LIMIT IN: global top-K broadcast, no per-rid
  // pair-frame window
  check("qe138_in_theta_limit", Seq("__plv_"), Nil)

  // DISTINCT ON membership staircase: record table, no BNLJ
  check("qe139_in_theta_distinct_on", Seq("__scce_"), Nil, noBnlj = true)

  // scalar grouped top-1 staircase (round 11): record/max_by probe, no
  // generic grouped-agg rid frame
  check("qe146_scalar_theta_group_top1", Seq("__ssidx_", "max_by"),
    Seq("__tgrid_"))
  check("qe201_scalar_theta_group_top1_having", Seq("__ssidx_", "max_by"),
    Seq("__tgrid_"))

  // monotone-threshold collapses: literally zero joins at any scale
  checkJoinFree("qe147_exists_theta_grouped")
  checkJoinFree("qe152_exists_theta_limit_offset")
  checkJoinFree("qe153_exists_theta_having_limit")
  checkJoinFree("qe169_exists_theta_grouped_distinct_on_offset")
  // round 12: DISTINCT ON + OFFSET existence — the countUniqueRows
  // per-tuple-extreme collapse (found by the fuzz plan cross-check)
  checkJoinFree("qe205_exists_distinct_on_offset_collapse")

  // DISTINCT membership-by-best / prefix-closed keep-first
  check("qe150_scalar_theta_distinct", Seq("__pdbest_"), Nil)
  check("qe164_scalar_theta_distinct_on", Seq("__pcv_"), Nil)

  // banded grouped aggregation: band-id equi join, NO pair-frame BNLJ
  check("qe175_in_theta_grouped_distinct_on_limit", Seq("__tbb_"), Nil,
    noBnlj = true)
  check("qe195_exists_theta_grouped_minmax_having",
    Seq("__terid_", "__tbb_"), Nil, noBnlj = true)

  // nested-flatten staircase (round 11): the record-extremum column
  // rides the plan; no BNLJ (the records join on the hoisted theta's
  // equality keys)
  check("qe197_nested3_in_distinct_on_theta", Seq("__gfpre_"), Nil,
    noBnlj = true)
  check("qe198_nested3_in_distinct_on_theta_nulls", Seq("__gfpre_"), Nil,
    noBnlj = true)

  // deferred pair-frame rail (round 11): the pair rid column is the
  // marker; at most one BNLJ (the machinery's bounded body join)
  test("plan markers: qe199/qe200 take the deferred pair-frame rail") {
    Seq("qe199_exists_hoisted_in_limit",
        "qe200_nested_notin_setop_outer_lhs").foreach { n =>
      val p = plan(n)
      assert(p.contains("__pfrid_"), s"$n lost the pair-frame rail")
      assert(count(p, "BroadcastNestedLoopJoin") <= 1)
      assert(count(p, "CartesianProduct") == 0)
    }
  }

  // negated-nested rail with a deferred prune pool (round 12): the
  // nerid pair frame is the marker; at most one BNLJ (the small-outer
  // theta anti body — SCALE.md Joins)
  test("plan markers: qe202/qe203 take the negated-nested pair frame") {
    Seq("qe202_negnested_with_deferred_in",
        "qe203_negnested_with_grouped_deferred").foreach { n =>
      val p = plan(n)
      assert(p.contains("__nerid_"), s"$n lost the negated-nested rail")
      assert(count(p, "BroadcastNestedLoopJoin") <= 1)
      assert(count(p, "CartesianProduct") == 0)
    }
  }

  // multi-inequality nested DISTINCT ON (round 12): whole-conjunct
  // deferral to the pair frame — __pfrid_ present, the staircase's
  // __gfpre_ absent (two inequalities can never take the record table)
  check("qe204_nested3_distinct_on_multi_ineq", Seq("__pfrid_"),
    Seq("__gfpre_"))

  // qe194 is the DELIBERATE generic-survivors pin: exactly one BNLJ
  // over the literal-capped outer — losing it means the displaced
  // generic plan lost driver coverage
  test("plan markers: qe194 keeps the deliberate generic pair frame") {
    val p = plan("qe194_exists_theta_grouped_two_conjuncts")
    assert(p.contains("__terid_"))
    assert(count(p, "BroadcastNestedLoopJoin") == 1)
    assert(count(p, "CartesianProduct") == 0)
  }

  // equality + theta correlations (qe90: ungrouped aggregate, qe114:
  // bare lookup, qe163: a scalar in a join's CTE) join on the equality as
  // a hash key with the theta conjunct as residual: no band pre-thin, no
  // nested-loop join
  Seq("qe90_corr_scalar_mixed", "qe114_bare_scalar_theta",
      "qe163_right_on_scalar_both_sides").foreach { n =>
    check(n, Nil, Seq("__tbando_"), noBnlj = true)
  }

  // round-12 pipeline additions: every join is an equijoin by design —
  // cid buckets (qp92), shingle-hash postings + fingerprints (qp93),
  // none at all beyond windows (qp94). A cartesian or BNLJ here means
  // a candidate join degenerated to all-pairs.
  test("plan markers: qp92/qp93/qp94 plan only equijoins") {
    Seq("qp92_semdedup", "qp93_incremental_dedup",
        "qp94_quality_quantile").foreach { n =>
      val p = plan(n)
      assert(count(p, "CartesianProduct") == 0, s"$n plans a cartesian")
      assert(count(p, "BroadcastNestedLoopJoin") == 0, s"$n gained a BNLJ")
    }
  }

  // sketch + sampler are window/aggregate-only pipelines: ANY join
  // means the plan degenerated
  test("plan markers: qp96/qp97 are join-free") {
    Seq("qp96_kmv_distinct", "qp97_exactk_sample").foreach { n =>
      val p = plan(n)
      assert(joins(p) == 0, s"$n gained a join")
    }
  }
}
