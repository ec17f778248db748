package graft

import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Kernels, Sampling}

/** Determinism under task retry — the Spark-side counterpart of the
  * reference's worker-kill suite
  * (`distributed/tests/test_failed_workers.py:1-672`): when a task
  * fails and the scheduler re-attempts it, every oracle-checked result
  * must come back bit-identical. Spark supplies the retry machinery
  * (stage replay, `local[4,3]` in [[TestSpark]]); what's under test is
  * the engine's own claim that its results don't depend on attempt
  * count or evaluation order — dsum's fixed-point carrier, salted
  * deterministic sampling, and md5-portable MinHash all promise
  * layout-independence, which retry is the adversarial case of.
  *
  * Injection: a nondeterministic filter UDF that throws on the FIRST
  * attempt of one task and passes every row on re-attempt, so the
  * sabotaged plan is semantically the identity. A JVM-static counter
  * proves the failure actually fired — it must be a static, not an
  * accumulator: Spark discards accumulator updates from failed task
  * attempts, which is exactly when this one increments (local mode
  * keeps all tasks in one JVM, so a static is visible).
  */
class RetryDeterminismSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  import RetryDeterminismSpec.injected

  /** Identity filter that kills the first attempt of partition 0 of
    * whatever stage it lands in. Nondeterministic so Catalyst neither
    * folds it away nor pushes it into the scan.
    */
  private def sabotage(df: DataFrame): DataFrame = {
    val failOnce = udf { (_: Long) =>
      val tc = TaskContext.get()
      if (tc != null && tc.partitionId() == 0 && tc.attemptNumber() == 0) {
        injected.incrementAndGet()
        throw new RuntimeException("injected first-attempt task failure")
      }
      true
    }.asNondeterministic()
    df.filter(failOnce(lit(0L)))
  }

  /** Runs `op` on the clean input and on the sabotaged (retry-forcing)
    * input and demands identical collected results.
    */
  private def assertRetryIdentical(input: DataFrame,
      op: DataFrame => DataFrame): Unit = {
    val clean = op(input).collect().map(_.toString).sorted
    val before = injected.get()
    val retried = op(sabotage(input)).collect().map(_.toString).sorted
    assert(injected.get() > before,
      "injection never fired — the retry path was not exercised")
    assert(retried.sameElements(clean),
      "result changed under task retry")
  }

  private def lineitem =
    spark.read.parquet(s"$sf/lineitem.parquet")
  private def documents =
    spark.read.parquet(s"$sf/documents.parquet")

  test("q1-shape dsum aggregate is bit-identical under scan-task retry") {
    assertRetryIdentical(lineitem, li =>
      li.filter(col("l_shipdate") <= lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(Kernels.dsum(col("l_quantity")).as("sum_qty"),
          Kernels.dsum(col("l_extendedprice")).as("sum_base_price"),
          Kernels.davg(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus"))
  }

  test("dsum two-level aggregate is bit-identical under reduce-task retry") {
    // sabotage AFTER the first groupBy: the thrown task is a
    // post-shuffle reducer, so the retried unit is a shuffle-read
    // stage, not a parquet scan
    val partial = lineitem.groupBy("l_returnflag", "l_linestatus")
      .agg(Kernels.dsum(col("l_extendedprice")).as("s"),
        count(lit(1)).as("n"))
    val clean = partial.groupBy("l_returnflag")
      .agg(Kernels.dsum(col("s")).as("rev"), sum("n").as("n"))
      .orderBy("l_returnflag").collect().map(_.toString)
    val before = injected.get()
    val retried = sabotage(partial).groupBy("l_returnflag")
      .agg(Kernels.dsum(col("s")).as("rev"), sum("n").as("n"))
      .orderBy("l_returnflag").collect().map(_.toString)
    assert(injected.get() > before,
      "injection never fired — the retry path was not exercised")
    assert(retried.sameElements(clean), "result changed under task retry")
  }

  test("stratified sampling picks the same rows under retry") {
    assertRetryIdentical(documents, Sampling.stratifiedSample)
  }

  test("MinHash-LSH md5 pairs are identical under retry") {
    assertRetryIdentical(documents,
      d => Dedup.minHashLsh(d, numHashes = 16, bands = 4, sampleMod = 2))
  }

  test("globalRank ranks are identical under retry") {
    // the kernel's correctness hinges on spark_partition_id being read
    // off ONE materialization (the eager checkpoint): a retried task
    // inside the range exchange or the checkpoint scan must neither
    // shift shard tags against the ledger nor perturb a single rank
    assertRetryIdentical(documents, d =>
      Kernels.globalRank(
        d.select(col("doc_id"), col("n_chars")),
        Seq(col("n_chars"), col("doc_id")), "rnk"))
  }

  test("BottomKByKey quota selection is identical under retry") {
    // the new r10 bounded-heap aggregate: a retried scan task re-feeds
    // rows into k-capped heap partials — the kept set (exact
    // k-smallest by (key, id)) must not depend on attempt count or
    // partial merge order
    assertRetryIdentical(documents, d => Sampling.sourceQuota(d, quota = 7))
  }

  test("bm25 query-table top-k is identical under retry") {
    assertRetryIdentical(documents, d =>
      graft.operators.Search.bm25Queries(d, topK = 5))
  }

  test("connected-components labels are identical under retry") {
    // the iterative star-contraction loop localCheckpoints per round;
    // a retried task inside the loop must not perturb the labels
    val edges = documents.limit(40)
      .select((col("doc_id") % 7).as("d1"), (col("doc_id") % 11).as("d2"))
    val nodes = documents.select(col("doc_id").as("node")).limit(60)
    val clean = Dedup.connectedComponents(edges, nodes)
      .collect().map(_.toString).sorted
    val before = injected.get()
    val retried = Dedup.connectedComponents(sabotage(edges), nodes)
      .collect().map(_.toString).sorted
    assert(injected.get() > before,
      "injection never fired — the retry path was not exercised")
    assert(retried.sameElements(clean), "labels changed under task retry")
  }
}

object RetryDeterminismSpec {
  /** Incremented from the failing task attempt itself — see scaladoc. */
  val injected = new java.util.concurrent.atomic.AtomicLong(0L)
}
