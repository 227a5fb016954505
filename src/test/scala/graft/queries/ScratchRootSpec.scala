package graft.queries

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

/** [[Tables.scratchRoot]]: one pid-keyed root per JVM, the roots of dead
  * pids swept on first use. */
class ScratchRootSpec extends AnyFunSuite {

  test("first use sweeps the scratch roots of dead pids and keeps the live one") {
    val base = Files.createTempDirectory("graft-scratch-sweep")
    val parent = base.resolve("graft-scratch")
    // a pid that is certainly dead: a finished `true` process
    val p = new ProcessBuilder("true").start()
    p.waitFor()
    val deadPid = p.pid()
    def plant(dir: String): Path = {
      val d = Files.createDirectories(parent.resolve(dir))
      Files.write(d.resolve("part-0.parquet"), Array[Byte](1, 2, 3))
      d
    }
    val dead = plant(s"pid$deadPid")
    val deadOldStyle = plant(s"avro_rt__root_testdata_sf0_001_pid$deadPid")
    val live = plant(s"pid${ProcessHandle.current().pid()}")
    val unkeyed = plant("not-a-root")
    try {
      val root = Tables.scratchRootIn(base.toString)
      assert(root == live.toString)
      assert(!Files.exists(dead) && !Files.exists(deadOldStyle),
        "a dead pid's scratch root survived the sweep")
      assert(Files.exists(live.resolve("part-0.parquet")), "the live root was swept")
      assert(Files.exists(unkeyed), "a directory that is not a pid root was swept")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
  }

  test("scratch paths are keyed by query and SF dir under this JVM's root") {
    val a = Tables.scratchPath("q", "/data/sf0.001")
    val b = Tables.scratchPath("q", "/data/sf0.01")
    assert(a != b)
    assert(a.startsWith(Tables.scratchRoot + "/") && b.startsWith(Tables.scratchRoot + "/"))
    assert(Tables.scratchRoot.endsWith(s"graft-scratch/pid${ProcessHandle.current().pid()}"))
  }
}
