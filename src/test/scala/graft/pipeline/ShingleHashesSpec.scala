package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the round-16 native [[graft.functions.ShingleHashes]] expression
  * bit-for-bit to the pipeline it replaced:
  * `shingleStream(docs).select(id, xxhash64(s))` — the explode → window
  * `lead` → `concat_ws` → hash chain. Every consumer that switched to
  * [[Dedup.shingleHashStream]] relies on this equivalence (same hashes →
  * same distincts, same MinHash mins, same Jaccard counts). */
class ShingleHashesSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .appName("shingle-hashes-spec").master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def oldStream(docs: org.apache.spark.sql.DataFrame, n: Int) =
    Dedup.shingleStream(docs, "id", "text", n)
      .select(col("id"), xxhash64(col("s")).as("h"))

  private val fixtures = Seq(
    "plain three word shingles roll over here",
    "two words",
    "one",
    "",                       // empty: split yields [""], one empty shingle
    "   ",                    // spaces only: trim → "", same as empty
    "\ttab lead",        // tab is \s (split), NBSP is NOT \s
    "a  b   c",               // runs of spaces collapse to one split
    "dup dup dup dup",        // duplicate shingles must be KEPT (order/multiset)
    "unicode ☃ tokens mixé ok",
    "x " * 40 + "tail"        // longer doc
  )

  private def docsDf = {
    import spark.implicits._
    fixtures.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
  }

  for (n <- Seq(1, 2, 3, 5)) {
    test(s"shingleHashStream == old explode+window pipeline (n=$n)") {
      val olds = oldStream(docsDf, n).groupBy("id")
        .agg(sort_array(collect_list("h")).as("hs"), count(lit(1)).as("c"))
        .orderBy("id").collect()
      val news = Dedup.shingleHashStream(docsDf, "id", "text", n).groupBy("id")
        .agg(sort_array(collect_list("h")).as("hs"), count(lit(1)).as("c"))
        .orderBy("id").collect()
      assert(olds.length == news.length)
      olds.zip(news).foreach { case (o, x) =>
        assert(o.getLong(0) == x.getLong(0))
        assert(o.getSeq[Long](1) == x.getSeq[Long](1),
          s"id=${o.getLong(0)} n=$n multiset mismatch")
      }
    }
  }

  test("NULL text emits no rows (both pipelines)") {
    import spark.implicits._
    val df = Seq((1L, null: String), (2L, "some real text here"))
      .toDF("id", "text")
    assert(Dedup.shingleHashStream(df, "id", "text", 3)
      .filter(col("id") === 1L).count() == 0L)
    assert(oldStream(df, 3).filter(col("id") === 1L).count() == 0L)
  }

  for (n <- Seq(1, 2, 3, 5)) {
    test(s"shingleSetStream == dropDuplicates + count + sort_array(collect_list) (n=$n)") {
      // the round-17 per-row set pipeline against the three-aggregate
      // chain it replaced: same ids, same sorted arrays, same sizes
      val olds = Dedup.shingleHashStream(docsDf, "id", "text", n)
        .dropDuplicates("id", "h")
        .groupBy("id")
        .agg(sort_array(collect_list("h")).as("__hs"),
          count(lit(1)).as("__sz"))
        .orderBy("id").collect()
      val news = Dedup.shingleSetStream(docsDf, "id", "text", n)
        .orderBy("id").collect()
      assert(olds.length == news.length)
      olds.zip(news).foreach { case (o, x) =>
        assert(o.getLong(0) == x.getLong(0))
        assert(o.getSeq[Long](1) == x.getSeq[Long](1),
          s"id=${o.getLong(0)} n=$n distinct-sorted array mismatch")
        assert(o.getLong(2) == x.getLong(2),
          s"id=${o.getLong(0)} n=$n size mismatch")
      }
    }
  }

  test("shingleSetStream: NULL text emits no row, empty text one hash") {
    import spark.implicits._
    val df = Seq((1L, null: String), (2L, "")).toDF("id", "text")
    val rows = Dedup.shingleSetStream(df, "id", "text", 3)
      .orderBy("id").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(2L))
    assert(rows.head.getLong(2) == 1L)
  }

  test("shingleSetStream runs the shingle kernel once per row") {
    // a NULL filter on the projected array is pushed below the
    // projection as a second kernel call; filtering the text keeps the
    // optimized plan at one call. The input is range-derived: a local
    // Seq would be constant-folded away
    val df = spark.range(1, 3).select(col("id"),
      when(col("id") === 2, lit("a b c d")).as("text"))
    val out = Dedup.shingleSetStream(df, "id", "text", 3)
    val plan = out.queryExecution.optimizedPlan.toString
    val calls = "shingle_hashes_distinct\\(".r.findAllMatchIn(plan).size
    assert(calls == 1, s"expected one kernel call, got $calls in:\n$plan")
    assert(out.collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("distinctSorted equals sort_array(array_distinct(shingle_hashes))") {
    val viaBuiltins = docsDf.select(col("id"),
      sort_array(array_distinct(
        graft.functions.ShingleHashes(col("text"), 3))).as("a"))
      .orderBy("id").collect()
    val native = docsDf.select(col("id"),
      graft.functions.ShingleHashes.distinctSorted(col("text"), 3).as("a"))
      .orderBy("id").collect()
    viaBuiltins.zip(native).foreach { case (o, x) =>
      assert(o.getSeq[Long](1) == x.getSeq[Long](1))
    }
  }

  test("hash matches spark xxhash64 of the literal shingle string") {
    import spark.implicits._
    val df = Seq((1L, "alpha beta gamma delta")).toDF("id", "text")
    val got = Dedup.shingleHashStream(df, "id", "text", 3)
      .orderBy("h").collect().map(_.getLong(1)).toSeq
    val want = Seq("alpha beta gamma", "beta gamma delta").toDF("s")
      .select(xxhash64(col("s")).as("h")).orderBy("h")
      .collect().map(_.getLong(0)).toSeq
    assert(got.sorted == want.sorted)
  }
}
