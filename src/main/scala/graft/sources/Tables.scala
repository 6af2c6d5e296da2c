package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.sim.IndexCache

/** Parquet star-schema loader for the harness testdata
  * (`/root/testdata/sf*` — see TESTDATA.md).
  *
  * Mirrors the reference's "declared schema over landed data" layer
  * (`basic_example/clickhouse.sql:40-52`): schema comes from the files,
  * column pruning + predicate pushdown come from Catalyst for free.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Memoized relation (the catalog analog): a resolved parquet
    * relation snapshots its file listing + merged schema at `read`
    * time; re-resolving both for EVERY query against an immutable
    * table is pure fixed overhead (measured ~50–100 ms/table/query on
    * the bench set). Kept unpersisted in the artifact store
    * ([[graft.sim.IndexCache]]) for the live context. The testdata
    * tables are immutable by harness contract; mutable state (the L2
    * store) has its own manifest-versioned reader and never goes
    * through here. A caller that rewrites a table directory in place
    * must use [[loadFresh]] — the memoized relation keeps the old
    * file-listing snapshot. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    IndexCache.getOrCompute(spark, s"rel:$dir:$name")(loadFresh(spark, dir, name))

  /** Uncached resolve — one file listing + schema read per call. */
  def loadFresh(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    // `events.ts` is parquet TIMESTAMP(NANOS): Spark lands it as Long
    // (spark.sql.legacy.parquet.nanosAsLong=true); truncate ns → µs with
    // integer division — the same truncation DuckDB applies, so oracle
    // comparisons agree to the microsecond.
    df.schema.find(f => f.name == "ts" && f.dataType == LongType) match {
      case Some(_) => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case None    => df
    }
  }

  /** Load + spread across the session's default parallelism — but only
    * when the scan is actually narrower than the session's cores.
    *
    * The harness writes each table as ONE parquet row group, and a row
    * group is Spark's minimum split unit — so every scan is a single
    * task no matter what `maxPartitionBytes` says (the "one huge
    * unsplittable file" input-skew case, optimization guide §2.5:
    * repartition immediately after the read). For scan-bound queries
    * that is fine (the files are small); for compute-heavy chains
    * (JSON roundtrips, MinHash, cosine scoring, wide aggregations) the
    * explicit repartition buys full-core parallelism for the price of
    * one tiny shuffle.
    *
    * SCALE-ADAPTIVE (r12): the repartition is now conditional on the
    * scan's actual partition count. On a production cluster the input
    * is already thousands of splits, and the old unconditional
    * `repartition(defaultParallelism)` would have been a full extra
    * shuffle of the table that also CAPPED map parallelism at the core
    * count; now it is a true no-op there — the guard keeps the fix
    * strictly a small-input affordance. */
  def loadParallel(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = load(spark, dir, name)
    val cores = spark.sparkContext.defaultParallelism
    val parts = IndexCache.getOrCompute(spark, s"scan-parts:$dir:$name")(
      df.rdd.getNumPartitions)
    if (parts < cores) df.repartition(cores) else df
  }

  /** Conditional spread of an already-projected frame (the loadParallel
    * guard, applied AFTER projection so the repartition shuffles only
    * the projected bytes — guide §2.3/§2.5): repartition to the
    * session's cores only when the lineage is narrower than that. On
    * already-wide cluster input this is a true no-op. */
  def spreadIfNarrow(df: DataFrame): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < cores) df.repartition(cores) else df
  }

  /** Register every table as a temp view so `spark.sql` works too. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
