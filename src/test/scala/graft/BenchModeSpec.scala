package graft

import java.nio.file.{Files, Path}

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** Scratch placement: the tmpfs is used only when writable with room for a
  * run, and a killed run's leftovers are reaped before the room is
  * measured. The free space is stubbed, so no real tmpfs is filled. */
class BenchModeSpec extends AnyFlatSpec with Matchers {

  private def withShm(body: Path => Unit): Unit = {
    val shm = Files.createTempDirectory("graft_shm")
    try body(shm) finally BenchMode.deleteRecursively(shm)
  }

  private val roomy: Path => Long = _ => BenchMode.minTmpfsFreeBytes

  "BenchMode.pickScratch" should "use the tmpfs only with enough free space" in withShm { shm =>
    BenchMode.pickScratch(shm, roomy, "/fallback") shouldBe
      shm.resolve("graft_scratch").toString
    BenchMode.pickScratch(shm, _ => BenchMode.minTmpfsFreeBytes - 1, "/fallback") shouldBe
      "/fallback"
  }

  it should "fall back when the tmpfs is missing" in withShm { shm =>
    BenchMode.pickScratch(shm.resolve("absent"), roomy, "/fallback") shouldBe "/fallback"
  }

  it should "reap dead JVMs' workspaces before measuring, and keep live ones" in withShm { shm =>
    val gate = shm.resolve("graft_scratch").resolve("graft_ann_1a2b")
    // pids above the kernel's pid_max never belong to a live process
    val dead = Files.createDirectories(gate.resolve("jvm4999999999"))
    Files.write(dead.resolve("part-0.parquet"), Array[Byte](1, 2, 3))
    val live = Files.createDirectories(gate.resolve(s"jvm${ProcessHandle.current().pid()}"))
    // the leftover is all that keeps the stubbed tmpfs below the threshold
    val usable: Path => Long = _ =>
      if (Files.exists(dead)) BenchMode.minTmpfsFreeBytes - 1 else BenchMode.minTmpfsFreeBytes
    BenchMode.pickScratch(shm, usable, "/fallback") shouldBe
      shm.resolve("graft_scratch").toString
    Files.exists(dead) shouldBe false
    Files.exists(live) shouldBe true
  }
}
