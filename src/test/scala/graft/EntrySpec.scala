package graft

class EntrySpec extends SparkSpec {
  test("driver contract: entry() returns rows and every query has a runnable plan") {
    // the driver's smoke check — rows > 0 on the flagship query at sf0.001
    assert(SparkEntry.entry(spark).count() > 0)
    // every oracle key has a query (a dangling oracle would silently skip
    // the driver's compare for that name)
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracles without queries: $missing")
  }

  test("sweepDeadPidDirs removes only <prefix><dead pid> dirs") {
    import java.nio.file.{Files, Path}
    val root = Files.createTempDirectory("graft-sweep")
    val prefix = "graft-t-00ff-"
    // a pid that provably exited: a child process we waited for
    val child = new ProcessBuilder("true").start()
    child.waitFor()
    def mk(name: String): Path = {
      val d = Files.createDirectories(root.resolve(name))
      Files.writeString(Files.createDirectories(d.resolve("sub"))
        .resolve("part-0"), "x")
      d
    }
    val dead = mk(s"$prefix${child.pid()}")
    val live = mk(s"$prefix${ProcessHandle.current().pid()}")
    val notPid = mk(s"${prefix}notapid")
    val other = mk(s"graft-u-00ff-${child.pid()}")
    SparkEntry.sweepDeadPidDirs(root, prefix)
    assert(!Files.exists(dead), "dead pid's dir survived")
    Seq(live, notPid, other).foreach { d =>
      assert(Files.exists(d.resolve("sub/part-0")), s"$d was swept")
    }
  }
}
