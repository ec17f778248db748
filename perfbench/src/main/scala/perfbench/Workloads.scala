package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** A workload: entries of `SparkEntry.queries`, the tables
  * they read (cached in set-up), and a seeded op order per pass.
  */
final class Workload(spark: SparkSession, data: String,
    val entries: Seq[String], val tables: Seq[String], seed: Long) {
  private val builders = SparkEntry.queries
  private val oracles = SparkEntry.oracleSql
  entries.foreach(n => require(builders.contains(n), s"no entry $n"))

  /** Entry names in this pass's seeded order. */
  def order(pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(entries)

  /** The call into the queries layer that builds an entry's frame. */
  def build(name: String): DataFrame = builders(name)(spark, data)

  /** DuckDB oracle SQL for an entry's result, when there is one. */
  def oracle(name: String): Option[String] = oracles.get(name)
}

object Workload {

  /** The 22 TPC-H entries over the cached TPC-H tables. */
  val tpch: Seq[String] = (1 to 22).map(i => s"q$i")

  /** Read-side corpus entries, chosen for the mechanisms ROADMAP items
    * 2, 4 and 5 act on: per-character HOF reassembly
    * (`dedup_exact_substring`, `dedup_spans`), the two MinHash paths
    * (`dedup_minhash_lsh`, `dedup_minhash_lsh_md5`) and eager
    * construction jobs (`sim_semantic_dedup`), plus two entries that use
    * none of them (`text_stats`, `text_quality`), where the prediction for
    * such a change is no change. An odd count keeps the median op a single
    * entry. None reads an `ensure*` store cache, so every run starts from
    * the same state.
    */
  val corpus: Seq[String] = Seq(
    "dedup_exact_substring", "dedup_spans", "dedup_minhash_lsh",
    "dedup_minhash_lsh_md5", "sim_semantic_dedup", "text_stats",
    "text_quality")

  def apply(name: String, spark: SparkSession, data: String,
      seed: Long): Workload = name match {
    case "tpch" => new Workload(spark, data, tpch, Seq("region", "nation",
      "customer", "supplier", "part", "orders", "lineitem"), seed)
    case "corpus" => new Workload(spark, data, corpus,
      Seq("documents", "embeddings"), seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}
