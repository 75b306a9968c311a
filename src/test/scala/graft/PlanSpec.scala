package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan shape pins for the scale-critical queries: these fail if
  * a refactor silently turns a broadcast join into a shuffle join, lets a
  * self-join degrade to a cartesian product, or breaks column pruning into
  * the parquet scan. Run over sf0.001 (plan shape, not data volume). */
class PlanSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("engine queries run the ShadowExtract plan node, not a typed mapPartitions") {
    // the oracle checks these queries, so they must run the production path
    for (q <- Seq("s1_full_rewrite", "s9_spans_to_rows", "pipe3_extract_quality_dedup",
        "pipe4_extract_outlinks")) {
      val p = plan(q)
      assert(p.contains("ShadowExtract"), s"$q: ${p.take(2000)}")
      assert(!p.contains("MapPartitions"), s"$q: ${p.take(2000)}")
    }
  }

  test("q2: the nation dim is broadcast, not shuffled") {
    val p = plan("q2_join_broadcast")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("no scale query degrades to a cartesian / nested-loop join") {
    // (dd6/pipe2 run their iterative loop at construction time and expose
    // only the final checkpointed scan as a plan, so the join-bearing
    // plans to pin are the sketch queries themselves)
    for (q <- Seq("dd2_minhash_lsh", "dd3_simhash", "dd5_embedding_neardup",
        "ann3_lsh_topk")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q has a nested-loop join")
    }
  }

  test("scan-local text queries prune to the columns they read") {
    // tx4 reads only doc_id+text; the parquet scan must not fetch the rest
    val p = plan("tx4_fingerprint")
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("doc_id") && read.contains("text"), read)
    assert(!read.contains("lang") && !read.contains("source"), read)
  }

  test("top-k queries use per-partition TakeOrdered, not a global sort") {
    for (q <- Seq("ann1_quantized_topk", "ann2_bruteforce_topk")) {
      val p = plan(q)
      assert(p.contains("TakeOrderedAndProject"), s"$q: ${p.take(800)}")
    }
  }

  test("dd8: the benchmark shingle set is broadcast, corpus side not shuffled") {
    val p = plan("dd8_decontaminate")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
  }

  test("dd7: one window shuffle + hash-agg reassembly, no joins") {
    val p = plan("dd7_line_dedup")
    assert(p.contains("Window"), p.take(2000))
    assert(!p.contains("Join"), s"dd7 should not join: ${p.take(2000)}")
  }

  test("q9: the as-of join is the union+window shape — no join operator at all") {
    val p = plan("q9_asof_join")
    assert(p.contains("Window"), p.take(800))
    assert(!p.contains("Join"), s"q9 must not contain a join: ${p.take(2000)}")
  }

  test("q10: the range join stays an equi-join on (key, bucket), never a cartesian") {
    val p = plan("q10_range_join")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("web2: mixture sampling is scan-local + one partial/final agg, no join") {
    val p = plan("web2_mixture_sample")
    assert(!p.contains("Join"), p.take(2000))
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(1500))
  }

  test("cdc1: merge is union + window, not a join") {
    val p = plan("cdc1_merge_upsert")
    assert(p.contains("Window"), p.take(800))
    assert(!p.contains("Join"), s"cdc1 must not join: ${p.take(2000)}")
  }

  test("web1: two-phase domain cap — per-partition pre-cap BEFORE the shuffle") {
    val p = plan("web1_domain_cap")
    // phase 1 is the typed per-partition top-k hop; it must sit between
    // the scan and the one exchange the window needs
    assert(p.contains("MapPartitions"), p.take(2000))
    val exchangeAt = p.indexOf("Exchange hashpartitioning")
    val mapAt = p.indexOf("MapPartitions")
    assert(exchangeAt >= 0 && mapAt >= 0 && mapAt > exchangeAt,
      s"pre-cap must be upstream (below) the exchange in the plan tree:\n${p.take(2000)}")
    assert(p.contains("Window"), p.take(800))
  }

  test("web1: pre-capped output is row-identical to the single-phase window") {
    import graft.pipeline.WebCorpus
    val docs = spark.read.parquet(s"$dir/documents.parquet").repartition(7)
    val two = WebCorpus.domainCap(docs).collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    val one = WebCorpus.domainCap(docs, prePartitionCap = false)
      .collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    assert(two == one)
    // a tiny flush threshold (constant flushes) must still be lossless
    val flushy = WebCorpus.domainCap(docs, flushDomains = 2)
      .collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    assert(flushy == one)
  }

  test("q11b: the approx-percentile sketch aggregates partially (map-side combine)") {
    // the whole point of the serving path: the sketch is partial-aggregable
    // (partial + final ObjectHashAggregate), so only summaries shuffle —
    // exact percentile by contrast needs every value at the reducer
    val p = plan("q11b_quantiles_approx")
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2, p.take(1500))
  }

  test("partial aggregation (map-side combine) on the big group-bys") {
    val p = plan("q1_agg")
    // two HashAggregate nodes = partial + final
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(1500))
  }

  test("wa1: one spread repartition of raw file rows, then a scan-local explode") {
    // gunzip + WARC/HTTP/charset decode all ride inside one mapPartitions.
    // ONE user repartition of the raw (doc_id, text) rows is allowed BELOW
    // the decode (synthTable's spread: parallelizes decode CPU across the
    // session's shuffle partitions and spreads whole-file stragglers); the
    // decode output itself must flow to the orderBy without any further
    // hash exchange, and no join may appear
    val p = plan("wa1_warc_records")
    assert("hashpartitioning".r.findAllIn(p).size <= 1, p.take(2000))
    assert(p.contains("REPARTITION_BY_NUM"), p.take(2000))
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("url1/rb1/tx8: the fetch scalars are native expressions in the projection") {
    // native Catalyst expressions (doGenCode static calls), not ScalaUDF —
    // a UDF node would break the codegen span; the expression name in the
    // Project proves the native path (the typed synth input keeps the
    // pre-AQE plan string from printing the WholeStageCodegen wrapper)
    val exprName = Map(
      "url1_canonicalize" -> "urlcanonicalizeexpr",
      "rb1_robots" -> "robotsallowedexpr",
      "tx8_html_unescape" -> "htmlunescapeexpr")
    for ((q, e) <- exprName) {
      val p = plan(q).toLowerCase
      assert(!p.contains("scalaudf"), s"$q fell out of codegen: ${p.take(800)}")
      assert(p.contains(e), s"$q does not project the native expression: ${p.take(800)}")
    }
  }

  test("pr1: the PageRank iteration joins are keyed — never cartesian/nested-loop") {
    val p = plan("pr1_pagerank")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    // per-iteration mass aggregation must combine map-side
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(1500))
  }
}
