package graft

/** Per-run scratch placement for engine tables and ingest round trips
  * (round-14, guide §2.1/§6 "fastest local medium"): the bench queries
  * that create throwaway table roots (q65 SQL warehouse, q104/q116
  * incremental indexes, q105 vector index, q134 drift tables, the q00
  * golden replay, CSV/ORC round trips) were rooting them in
  * java.io.tmpdir — disk-backed on most hosts — while shuffle scratch
  * already sat on tmpfs. Same rule ([[fastLocal]], shared with
  * [[GraftSession]]'s shuffle scratch), same parameterization:
  * `SPARK_GRAFT_SCRATCH_DIR` to override.
  *
  * LOCAL-mode placement only: these are driver+executor-shared paths in
  * local mode. On a multi-node deployment the cluster-visible location
  * must come from the existing `graft.scratch.dir` session conf (see
  * OrcIngest.roundtrip's contract) — durable tables belong on durable
  * storage; only per-run scratch belongs here.
  */
object Scratch {
  /** The fastest local medium: `/dev/shm/<name>` when tmpfs is writable,
    * else java.io.tmpdir itself.
    */
  def fastLocal(name: String): String =
    if (java.nio.file.Files.isWritable(java.nio.file.Paths.get("/dev/shm")))
      s"/dev/shm/$name"
    else System.getProperty("java.io.tmpdir")

  lazy val root: String =
    sys.env.getOrElse("SPARK_GRAFT_SCRATCH_DIR", fastLocal("graft-scratch"))

  def tempDir(prefix: String): String = {
    val base = java.nio.file.Paths.get(root)
    java.nio.file.Files.createDirectories(base)
    java.nio.file.Files.createTempDirectory(base, prefix).toString
  }
}
