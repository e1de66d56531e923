package graft

import org.apache.spark.sql.SparkSession

/** One place for every SparkSession this project creates (Bench, Verify,
  * CLI, tests), so bench and verify run the *same* config.
  *
  * Settings that matter for correctness and scale:
  *  - UTC session timezone: the DuckDB-oracle contract renders timestamps
  *    as UTC strings.
  *  - `nanosAsLong`: some testdata generations ship `events.ts` as parquet
  *    TIMESTAMP(NANOS), which the vectorized reader otherwise rejects; with
  *    this flag it arrives as epoch-nanos long and the schema-adaptive
  *    loader ([[Tables.tsTimestamp]]) converts it. Set once here rather
  *    than mutated from inside a table loader (a hidden global side effect
  *    that races under concurrent queries). Harmless for micros layouts.
  *  - shuffle partitions = cores in local mode (the 100-TB deployment would
  *    size this to ~2-3x total cluster cores / rely on AQE coalescing; AQE
  *    is left ON so skew-join + partition coalescing engage).
  *  - `checkpointFileManagerClass` = [[graft.streaming.LocalCheckpointFileManager]]:
  *    without the Hadoop native library, Spark's default checkpoint writer
  *    launches `chmod` and `readlink` child processes, about 30 per
  *    micro-batch on the stream execution thread: ≈90 ms of a ≈235 ms
  *    syslog→parquet trigger on a 4-core host (BASELINE.md, "Sustained
  *    ingest"). The replacement writes `file:` checkpoints through
  *    java.nio and hands other schemes to Spark's default writer.
  */
object Sessions {
  def builder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      // default codegen class cache (100) thrashes across this library's
      // ~44 queries x several stages: wide-aggregate stages (60-sum
      // simhash) then re-Janino-compile on every execution, turning 10s
      // queries into 60s ones. One long-lived entry per stage is cheap.
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      // RocksDB state store: streaming state spills to local disk instead
      // of living on the executor heap — the only provider that survives
      // 100-TB-scale keyed state (the default HDFSBacked provider keeps
      // every key in JVM memory).
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.streaming.checkpointFileManagerClass",
        classOf[graft.streaming.LocalCheckpointFileManager].getName)
      .config("spark.sql.warehouse.dir", "/tmp/graft-warehouse")
      .config("spark.ui.enabled", "false")

  def local(): SparkSession = {
    // Default to every core on the box: the driver invokes Bench/Verify
    // without SPARK_GRAFT_CPUS, and a 4-thread default quietly ran the
    // round-2 driver bench at 1/8th parallelism (a likely contributor to
    // its rc=124 timeout). Local runs can still pin it down via the env.
    val cpus = sys.env.getOrElse(
      "SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors().toString)
    val s = builder(cpus).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
