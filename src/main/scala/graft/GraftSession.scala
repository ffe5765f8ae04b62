package graft

import org.apache.spark.sql.SparkSession

/** The engine's session profile: every tuned setting an engine session
  * runs with, in one place. Callers keep their own master, app name and
  * log level, and may `.config(...)` anything on top before `getOrCreate`:
  *
  * {{{
  *   val spark = GraftSession.configure(
  *     SparkSession.builder().master("local[8]"), cpus = 8).getOrCreate()
  * }}}
  *
  * Settings equal to Spark's defaults (AQE on) are not repeated here. The
  * core confs take effect only when the builder creates the SparkContext;
  * an already-running session keeps the ones it started with.
  */
object GraftSession {

  def configure(builder: SparkSession.Builder, cpus: Int): SparkSession.Builder =
    builder
      .config("spark.sql.extensions", "graft.sqlcat.GraftSqlExtensions")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Joins (round-14): allow shuffled-hash when the per-partition build
      // side fits — SMJ's sorts are pure overhead for the
      // band-bucket/candidate equi-joins; AQE still rewrites to broadcast
      // when a side is tiny. Results identical (total orders).
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64MB")
      // Shuffle writer (round-14, measured A/B in OPTIMIZATION_r14.md): the
      // bypass-merge writer creates M×R files per shuffle (32 maps × 32
      // reduces = 1024 file creates); the sort writer — the only path at
      // scale, where R > 200 — writes one data+index pair per map task.
      // Forcing it (threshold 0) cut the 32-core per-query overhead ~2× and
      // fixed the measured ANTI-scaling (8-core sweeps beating 32-core ones).
      .config("spark.shuffle.sort.bypassMergeThreshold", "0")
      // Optimizer (round-14): constraint propagation spends planner time
      // inferring not-null constraints and REINSERTS them as filters that
      // re-evaluate whole derived expression trees per row (the measured 8×
      // shingle-substitution pathology the persist pins in Dedup/CorpusOps
      // already guard against — that cost grows WITH data, it is not a
      // local-mode artifact). Interleaved same-JVM A/B over 18 queries:
      // geomean 0.94, worst regression +9% (q39), wins to −26% (q167).
      // Results are plan-identical by construction (optimizer rule only).
      .config("spark.sql.constraintPropagation.enabled", "false")
      // Shuffle scratch goes to the fastest local medium (tmpfs on one
      // host, NVMe scratch on a cluster: local disk is the tighter shuffle
      // limit); SPARK_GRAFT_LOCAL_DIR overrides it.
      .config("spark.local.dir", sys.env.getOrElse("SPARK_GRAFT_LOCAL_DIR",
        Scratch.fastLocal("graft-spark-local")))
}
