package graft

import org.apache.spark.sql.SparkSession

/** Canonical session configuration for the graft engine.
  *
  * The reference pipeline (`anonymizer/src/main.rs`) scales by spawning N
  * parallel Kafka consumers and reads every knob from the environment
  * (`config.rs:1-187`); the analog here is `local[N]` with N shuffle
  * partitions, sized from the environment. On a real cluster the master and
  * partition settings come from spark-submit (sessions built through
  * [[configure]]) and AQE handles runtime re-planning (skew splits, shuffle
  * coalescing), so everything except the nanos flag is advisory.
  *
  * | env                             | default    | meaning                    |
  * |---------------------------------|------------|----------------------------|
  * | SPARK_GRAFT_CPUS                | 32         | local[N] + shuffle.partitions |
  * | SPARK_GRAFT_OBJ_AGG_FALLBACK    | 1048576    | ObjectHashAggregate sort-fallback keys |
  *
  * These settings are fixed when the session is built. Operators do not
  * set and restore session confs around their work: a window on a shared
  * session leaks into every plan built concurrently with it. An operator
  * that needs a plan property gets it from the plan itself, as Graph's
  * numbered edge repartition keeps its cache partitioning under
  * `canChangeCachedPlanOutputPartitioning=true`. PlanGlobalsSpec pins the
  * few places that write the session conf.
  *
  * Two fixed Hadoop defaults, `spark.hadoop.fs.file.impl` and
  * `spark.hadoop.fs.AbstractFileSystem.file.impl`, swap the `file:`
  * filesystem for [[graft.io.ForkFreeLocalFileSystem]] and
  * [[graft.io.ForkFreeLocalFs]]. Without `libhadoop`, stock Hadoop starts a
  * `chmod` process for every file and directory it creates and a `readlink`
  * process for every link-status check. A streaming micro-batch does both
  * many times: the checkpoint's offsets, commits and source logs, the state
  * store's deltas, and the sink's part and `.crc` files. A JFR recording
  * of one traced e2ebench `ingest_live` run (seed 7, 4-core box) counted
  * 3 735 process starts in 37 s, 1 072 of them on the stream execution
  * thread; with these classes it counts 11, none from Hadoop. They do the
  * same work through `java.nio` and keep the checksum layer, so `.crc`
  * files are written as before.
  *
  * Caveat: Hadoop caches `FileSystem` instances JVM-wide by scheme and
  * user, not by configuration. A `file:` FileSystem created in this JVM
  * before the first graft session (e.g. `FileSystem.getLocal(new
  * Configuration())`) keeps the stock class for the life of the cache
  * entry. FileContext (the streaming checkpoint) is not cached, so it
  * follows each session's configuration.
  */
object GraftSession {

  private def env(name: String, default: => String): String =
    sys.env.getOrElse(name, default)

  def configure(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    // testdata events.parquet stores INT64 TIMESTAMP(NANOS), which Spark's
    // parquet reader rejects by default; read as epoch-nano longs instead and
    // convert to a microsecond timestamp in Tables.events.
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Parquet TIMESTAMP(isAdjustedToUTC=false) — the driver's post-r7 events
    // vintage, and orders/lineitem dates in every vintage — reads as plain
    // TIMESTAMP (epoch micros taken verbatim) instead of TIMESTAMP_NTZ.
    // Under this session's pinned-UTC zone the values are identical to the
    // `cast(ntz as timestamp)` the adapter used to do, but WITHOUT the
    // per-row convertTz (a microsToInstant/LocalDateTime round trip, two
    // java.time allocations per row) that taxed every events-scanning query.
    .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    // ObjectHashAggregate (keep_latest, collect_list) falls back to
    // sort-based aggregation after this many hash-map keys per task; the
    // 128-key default sorts almost immediately, re-creating the
    // SortAggregate cost the operator exists to avoid. 1M keys of small
    // object buffers is ~100 MB per task; past that the sort fallback is
    // the right call anyway (same group-per-task sizing HashAggregate needs).
    // CAVEAT: the threshold is session-global and also governs big-buffer
    // aggregates (collect_list of shingle arrays ≈ 1-10 KB/key) — 1M such
    // keys per task is GBs before fallback. The guard is shuffle-partition
    // sizing, same as for HashAggregate: keys-per-task = keys/partitions
    // must fit the executor, and deployments with huge per-key buffers
    // should lower SPARK_GRAFT_OBJ_AGG_FALLBACK instead of raising memory.
    .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
      env("SPARK_GRAFT_OBJ_AGG_FALLBACK", "1048576"))
    // Defensive cap: AQE posts a full explainString on EVERY plan update,
    // and iterative workloads whose round-k plan nests round k-1's
    // InMemoryRelation (e.g. BPE learning before its lineage truncation)
    // make that string superlinear in rounds — the default 2 GiB cap let a
    // KB-sized table burn minutes of driver CPU building plan text. 1 MiB
    // keeps every legitimate explain intact.
    .config("spark.sql.maxPlanStringLength", "1048576")
    // Let AQE re-plan INSIDE persisted-plan materializations (off by default
    // upstream so a cache's output partitioning stays stable for consumers
    // that reuse it). The dedup family materializes every persist under
    // shuffle.partitions-wide exchanges, and with this off those reduce
    // stages cannot coalesce — a per-stage profile (the stage rows Bench now
    // writes to target/bench_record.json) measured 32-task stages moving
    // ~200 KB (c06 stage: 910 ms of task time for 230 ms of CPU, pure
    // launch overhead; the same pattern in every materializedPairs call).
    // Scale-adaptive by construction (AQE sizes from runtime bytes). The
    // pair caches are joined/aggregated through their own exchanges; the
    // one cache whose partitioning IS the optimization (Graph's edge list)
    // uses a numbered repartition, which AQE never coalesces, so it keeps
    // its partitioning under this setting without a conf change.
    .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
    // AQE's coalescing floor. AQE aims for one partition per core
    // (parallelismFirst) but never cuts a partition below this floor, so
    // Spark's 1 MiB default runs every exchange smaller than cores × 1 MiB
    // in fewer tasks than cores: the ~1 MB exchanges in front of the dedup
    // family's CPU-bound stages (exact aggregate + shingle + MinHash cache
    // fill, the (band, key) bucket aggregate, the cross-band pair dedup)
    // each ran in ONE task on a 4-core box. At 64 KiB they run on every
    // core, and their group-bys keep the map-side partial aggregate on
    // their own exchange (a hot bucket's capped buffer crosses it as ~1
    // byte), which a numbered repartition in front of them would remove.
    // Above cores × 1 MiB the target is total / cores under either floor,
    // so large exchanges split as before (save that a partition between
    // 64 KiB and 1 MiB is no longer force-merged into a neighbour).
    .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
    .config("spark.ui.enabled", "false")
    .config("spark.hadoop.fs.file.impl", classOf[graft.io.ForkFreeLocalFileSystem].getName)
    .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
      classOf[graft.io.ForkFreeLocalFs].getName)

  /** Local session: `local[cpus]` with `cpus` shuffle partitions, sized by
    * SPARK_GRAFT_CPUS unless the caller passes a count. The harness mains
    * and the tests all build their session here.
    */
  def local(cpus: String = env("SPARK_GRAFT_CPUS", "32")): SparkSession = {
    val spark = configure(
      SparkSession
        .builder()
        .master(s"local[$cpus]")
        .appName("graft")
        .config("spark.sql.shuffle.partitions", cpus)
    ).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
