package graft

import graft.ops.core

/** Pins the r8 persistedIndex lifecycle GC (VERDICT r7 task 6 /
  * ADVICE r7): pid-keyed index dirs under java.io.tmpdir must not
  * accumulate across JVMs. Two mechanisms, both exercised directly
  * (forking real JVMs from ScalaTest would re-pay a full Spark
  * startup per assertion for no extra coverage):
  *   - the startup sweep removes dirs whose pid is dead, leaving
  *     live-pid dirs alone;
  *   - the shutdown-hook action removes exactly this JVM's dirs.
  * Together: a second sequential JVM starts with the first one's
  * dirs already gone (hook on clean exit) or sweeps them (crash),
  * i.e. no tmpdir growth across sequential JVMs.
  *
  * Both mechanisms run against a SCRATCH root here, never the real
  * tmpdir: suites run concurrently in this JVM, and gc'ing the real
  * root would delete live indexes (kmeans assignment, edge list)
  * out from under them while the indexMemo still points at the
  * paths — the exact failure mode a first version of this spec
  * caused in the full suite run.
  */
class IndexGcSpec extends SparkSuite {

  private def freshRoot(): java.io.File = {
    val d = tempDir("graft_gcspec").toFile
    d
  }

  private def mkIdxDir(root: java.io.File, name: String): java.io.File = {
    val d = new java.io.File(root, name)
    d.mkdirs()
    // nested payload so only a recursive delete can remove it
    val f = new java.io.File(d, "part-00000.parquet")
    java.nio.file.Files.write(f.toPath, Array[Byte](1, 2, 3))
    d
  }

  private def deadPid: Long = {
    var p = 4194000L // just under the default linux pid_max
    while (ProcessHandle.of(p).isPresent) p -= 1
    p
  }

  test("startup sweep deletes dead-pid AND recycled-own-pid dirs, keeps other live pids") {
    val root = freshRoot()
    val dead = mkIdxDir(root, s"graft_idx_gcspec-deadbeef-p$deadPid")
    // a LIVE pid that is not ours (pid 1 always exists): a concurrent
    // JVM's private copy — must survive
    val live = mkIdxDir(root, "graft_idx_gcspec-deadbeef-p1")
    // a dir bearing OUR OWN pid at sweep time can only be a crashed
    // predecessor's leftover after pid recycling (the sweep runs
    // before this JVM's first build) — must be reaped
    val recycled = mkIdxDir(root,
      s"graft_idx_gcspec-deadbeef-p${ProcessHandle.current().pid()}")
    val unrelated = mkIdxDir(root, "graft_gcspec_not_an_index_dir")
    core.sweepDeadIndexDirs(root)
    assert(!dead.exists(), "sweep left a dead-pid index dir behind")
    assert(live.exists(), "sweep deleted a concurrent live JVM's index dir")
    assert(!recycled.exists(),
      "sweep kept a stale dir bearing this JVM's own (recycled) pid")
    assert(unrelated.exists(), "sweep touched a non-index dir")
  }

  test("shutdown-hook action deletes exactly this JVM's dirs") {
    val root = freshRoot()
    val pid = ProcessHandle.current().pid()
    val mine = mkIdxDir(root, s"graft_idx_gcspec2-cafebabe-p$pid")
    // suffix trap: another pid that ENDS in ours must not match
    val other = mkIdxDir(root, s"graft_idx_gcspec2-cafebabe-p9$pid")
    core.gcOwnIndexDirs(root)
    assert(!mine.exists(), "hook action left this JVM's index dir")
    assert(other.exists(),
      "hook action deleted a dir whose pid merely ends in ours")
  }

  test("persistedIndex still builds exactly once after the GC wiring") {
    var builds = 0
    val p1 = core.persistedIndex("gcspec_probe", sf) { path =>
      builds += 1
      new java.io.File(path).mkdirs()
    }
    val p2 = core.persistedIndex("gcspec_probe", sf) { _ => builds += 1 }
    assert(p1 == p2)
    assert(builds == 1, s"expected one build, saw $builds")
    assert(p1.endsWith(s"-p${ProcessHandle.current().pid()}"))
  }
}
