package graft

import org.json4s._
import org.json4s.jackson.JsonMethods
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** The harness bodies on the shared test session: every scale probe at a
  * tiny size keeps its output keys and its invariants, and the per-query
  * sweep reports a failing query as a failure, not as a time. */
class HarnessSpec extends SparkSpec {

  private def parse(line: String): Map[String, JValue] = {
    val JObject(fields) = JsonMethods.parse(line): @unchecked
    fields.toMap
  }

  private val probeKeys: Map[String, Set[String]] = Map(
    "dedup" -> Set("rows", "cpus", "minhash_lsh_sec", "minhash_pairs",
      "simhash_band_sec", "simhash_pairs", "exact_dedup_sec", "exact_groups",
      "fuzzy_dedup_sec", "fuzzy_collapsed", "hot_shingle_sec", "hot_docs",
      "para_dedup_sec", "para_removed", "span_dedup_sec", "span_removed",
      "cc_chain_nodes", "cc_distributed_sec", "cc_driver_sec"),
    "similarity" -> Set("rows", "cpus", "dim", "lsh_near_dup_sec", "near_dup_pairs",
      "lsh_topk_sec", "topk_rows", "semantic_dedup_sec", "semantic_collapsed"),
    "packing" -> Set("probe", "rows", "total_tokens", "cpus", "buckets",
      "chunk_sec", "chunks", "assign_sec", "assignments", "packed_sec",
      "packed_seqs", "conserved", "shard_sec", "sharded"),
    "prune" -> Set("probe", "snaps", "rows_per_snap", "build_sec",
      "files_pruned_read", "files_full_read", "rows_matched", "pruned_sec", "full_sec"),
    "incremental" -> Set("probe", "rows", "delta_rows", "base_validate_sec",
      "delta_validate_sec", "full_revalidate_sec", "speedup_vs_full",
      "base_violations", "delta_violations", "total_rows_in_manifest",
      "prior_read_key_only"),
    "compaction" -> Set("metric", "appends", "rows", "files_before", "files_after",
      "dirs_removed", "read_wall_before_sec", "read_wall_after_sec",
      "compact_wall_sec", "checksum_identical", "time_travel_identical"),
    "stream-dedup" -> Set("probe", "seed_docs", "batches", "streamed_docs",
      "batch_sec", "batch_pairs", "stream_pair_total", "batch_operator_pairs", "parity"),
    "train" -> Set("probe", "rows", "cpus", "kmeans_sec", "kmeans_rerun_sec",
      "kmeans_deterministic", "ivf_assign_sec", "ivf_cells", "dsir_sec",
      "dsir_scored", "mix_sec", "mix_kept", "line_dedup_sec", "line_kept",
      "mean_pool_sec", "pool_rows", "split_sec", "split_groups", "repair_sec",
      "repair_cols"))

  /** The boolean invariants a probe reports (the rest it `require`s). */
  private val probeChecks: Map[String, Seq[String]] = Map(
    "packing" -> Seq("conserved"),
    "incremental" -> Seq("prior_read_key_only"),
    "compaction" -> Seq("checksum_identical", "time_travel_identical"),
    "stream-dedup" -> Seq("parity"),
    "train" -> Seq("kmeans_deterministic"))

  test("probe list matches the pinned output keys") {
    assert(Probes.all.keySet == probeKeys.keySet)
  }

  private def runProbe(name: String): Harness.Js = Probes.all(name)._2(spark, 2000L)

  // compaction commits 40 appends, and each costs about a second of file
  // work whatever its size: it runs beside the other probes
  private var compaction: Future[Harness.Js] = _
  override def beforeAll(): Unit = {
    super.beforeAll()
    compaction = Future(runProbe("compaction"))(ExecutionContext.global)
  }
  override def afterAll(): Unit = {
    Await.ready(compaction, Duration.Inf)
    super.afterAll()
  }

  ((probeKeys.keySet - "compaction").toSeq.sorted :+ "compaction").foreach { name =>
    test(s"probe $name at 2k rows: same keys, invariants hold") {
      val js = if (name == "compaction") Await.result(compaction, Duration.Inf) else runProbe(name)
      val out = parse(js.toString)
      assert(out.keySet == probeKeys(name))
      probeChecks.getOrElse(name, Nil).foreach(k => assert(out(k) == JBool(true), k))
    }
  }

  test("time: failing query is null with its error, total sums the rest") {
    val sf = "/root/testdata/sf0.001"
    val queries = Seq("q1_agg", "q_row_violations").map(q =>
      q -> (() => SparkEntry.queries(q)(spark, sf))) :+
      ("q_broken" -> (() => throw new IllegalStateException("no such table")))
    val out = Harness.time(spark, sf, queries)
    assert(!out.ok)
    val js = parse(out.text)
    val JObject(times) = js("queries"): @unchecked
    assert(times.map(_._1) == Seq("q1_agg", "q_row_violations", "q_broken"))
    assert(times.toMap.apply("q_broken") == JNull)
    val ok = times.collect { case (_, JDouble(t)) => t }
    assert(ok.size == 2 && ok.forall(_ > 0.0))
    assert(js("value") == JDouble(ok.sum))
    val JObject(errors) = js("errors"): @unchecked
    assert(errors.map(_._1) == Seq("q_broken"))
    assert(errors.head._2.asInstanceOf[JString].s.contains("no such table"))
  }
}
