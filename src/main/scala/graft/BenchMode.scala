package graft

import java.nio.file.{Files, Path, Paths}

/** Bench-only knobs consulted by a few [[SparkEntry]] gates.
  *
  * `witnesses` — when false (set ONLY by [[Bench]], where it is the
  * DEFAULT since r15; SPARK_GRAFT_BENCH_WITNESS=on restores the old
  * witness-inclusive timing), gates that carry extra contract-witness
  * actions beside their production path (q159's 50-merge encode parity and
  * distributed-train twin, q215's in-memory twin probe) skip the witnesses
  * and report their columns as vacuously true: a bench rep then measures
  * exactly what a production run of the operator costs, while the witnesses
  * keep running — and keep being hash-checked — in Verify, which never
  * touches this flag (default true here = every non-Bench entry point runs
  * witnesses). Bench artifacts stamp the mode as `"witnesses":bool` so a
  * consumer never mistakes vacuous gate columns for verified ones. */
object BenchMode {
  @volatile var witnesses: Boolean = true

  /** Spark scratch (`spark.local.dir`) placement for the Bench/Verify
    * sessions: shuffle files, localCheckpoint disk tier, and broadcast
    * spill all land here, and shuffle scratch bandwidth can be the tighter
    * limit (optimization guide §2.1). Production clusters point this at
    * their fastest node-local storage (NVMe); the sandbox analog is the
    * host tmpfs, so default there when [[pickScratch]] finds it writable
    * with room for a run, and fall back to the JVM tmpdir otherwise (a
    * small or nearly full tmpfs would fail a run with ENOSPC instead of
    * merely slowing it). Chosen ONCE per JVM, so every gate of a run
    * writes to the same filesystem. `SPARK_GRAFT_LOCAL_DIR` overrides for
    * real deployments. Pure scratch placement — nothing here outlives a
    * run or is ever read as a result (measured r15: shuffle-heavy gates
    * 1.5-2.3× faster vs the disk-backed /tmp default; q62 3.8→1.6 s at
    * sf0.1). */
  lazy val scratchDir: String = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_LOCAL_DIR",
      pickScratch(Paths.get("/dev/shm"), Files.getFileStore(_).getUsableSpace,
        diskTmp))
    Files.createDirectories(Paths.get(dir))
    dir
  }

  /** Free space the tmpfs must have for [[scratchDir]] to use it: about
    * ten times the largest scratch footprint measured for a run — 24 MB
    * for a full sf0.1 Bench run and 3.4 MB for an sf0.01 Verify run, on
    * `local[4]` (the scratch dir's size sampled every 0.5-1 s, so the
    * headroom also covers short peaks between samples). */
  private[graft] val minTmpfsFreeBytes: Long = 256L << 20

  // captured before Bench/Verify repoint `java.io.tmpdir` at the scratch
  // dir, so the fallback is always the JVM's own (disk) tmpdir
  private val diskTmp: String = System.getProperty("java.io.tmpdir")

  /** `shm/graft_scratch` when `shm` is a writable directory with at least
    * [[minTmpfsFreeBytes]] usable (per `usable`), else `fallback`. Dead
    * JVMs' workspaces under `shm/graft_scratch` are reaped BEFORE the
    * space is measured, so a killed run's leftovers never push later runs
    * onto disk. */
  private[graft] def pickScratch(shm: Path, usable: Path => Long,
      fallback: String): String = {
    val own = shm.resolve("graft_scratch")
    if (!Files.isDirectory(shm) || !Files.isWritable(shm)) fallback
    else {
      if (Files.isDirectory(own)) {
        val ls = Files.list(own)
        try ls.forEach { sub =>
          if (sub.getFileName.toString.startsWith("graft_") && Files.isDirectory(sub))
            reapDeadJvms(sub)
        } finally ls.close()
      }
      if (usable(shm) >= minTmpfsFreeBytes) own.toString else fallback
    }
  }

  /** Delete the `jvm<pid>` subdirectories of `base` whose JVM is no longer
    * alive (per-JVM gate workspaces and staging bases live in them). */
  private[graft] def reapDeadJvms(base: Path): Unit = {
    val myPid = ProcessHandle.current().pid()
    val ls = Files.list(base)
    try ls.forEach { sub =>
      val name = sub.getFileName.toString
      if (name.startsWith("jvm")) {
        val alive = name.stripPrefix("jvm").toLongOption.exists(pid =>
          pid == myPid || ProcessHandle.of(pid)
            .map[java.lang.Boolean](_.isAlive).orElse(java.lang.Boolean.FALSE)
            .booleanValue())
        if (!alive) deleteRecursively(sub)
      }
    } finally ls.close()
  }

  private[graft] def deleteRecursively(root: Path): Unit =
    if (Files.exists(root)) {
      val walk = Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => { Files.deleteIfExists(p); () })
      finally walk.close()
    }
}
