package graft

import java.io.File
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** Pins the staging rules of [[Staged]] on plain files (no Spark): a
  * directory is trusted only with its completion marker, a torn or failed
  * build leaves nothing a later call trusts, and sweeps spare this tag's
  * in-flight builds, the current run and other live processes' runs. Each
  * test uses its own prefix under java.io.tmpdir and removes what it
  * staged. */
class StagedSpec extends AnyFunSuite {

  private val tmp = new File(System.getProperty("java.io.tmpdir"))

  /** A fixture directory (only names, sizes and mtimes of its parquet
    * files feed the fingerprint), a fresh prefix, and its tag. */
  private def withFixture(body: (String, String, String) => Unit): Unit = {
    val fixture = Files.createTempDirectory("graft_stagedspec_fixture")
    Files.writeString(fixture.resolve("t.parquet"), "rows")
    val prefix = s"graft_stagedspec_${System.nanoTime()}_"
    try body(fixture.toString, prefix, Tables.dataFingerprint(fixture.toString))
    finally {
      Staged.sweep(prefix, "", fixture.toString)
      Files.delete(fixture.resolve("t.parquet"))
      Files.delete(fixture)
    }
  }

  private def writeData(path: String): Unit = {
    new File(path).mkdirs()
    Files.writeString(new File(path, "part-0.parquet").toPath, "data"): Unit
  }

  private def entries(prefix: String): Set[String] =
    tmp.listFiles().map(_.getName).filter(_.startsWith(prefix)).toSet

  test("a staged dir is built once and reused without calling build") {
    withFixture { (fixture, prefix, tag) =>
      var builds = 0
      def stage() = Staged.dir(prefix, fixture) { p => builds += 1; writeData(p) }
      val first = stage()
      val second = stage()
      assert(first === new File(tmp, prefix + tag).toString)
      assert(second === first)
      assert(builds === 1)
      assert(new File(first, Staged.Marker).exists())
      assert(new File(first, "part-0.parquet").exists())
      assert(entries(prefix) === Set(prefix + tag))
    }
  }

  test("an unmarked dir at the final path is torn: it is rebuilt") {
    withFixture { (fixture, prefix, tag) =>
      val torn = new File(tmp, prefix + tag)
      torn.mkdirs()
      Files.writeString(new File(torn, "half.parquet").toPath, "torn")
      var builds = 0
      val out = Staged.dir(prefix, fixture) { p => builds += 1; writeData(p) }
      assert(builds === 1)
      assert(out === torn.toString)
      assert(!new File(out, "half.parquet").exists())
      assert(new File(out, "part-0.parquet").exists())
      assert(new File(out, Staged.Marker).exists())
      assert(entries(prefix) === Set(prefix + tag))
    }
  }

  test("a failed build leaves no final or temp dir, and the next call builds") {
    withFixture { (fixture, prefix, _) =>
      val boom = intercept[IllegalStateException] {
        Staged.dir(prefix, fixture) { p =>
          writeData(p)
          throw new IllegalStateException("killed mid-build")
        }
      }
      assert(boom.getMessage === "killed mid-build")
      assert(entries(prefix).isEmpty)
      var builds = 0
      val out = Staged.dir(prefix, fixture) { p => builds += 1; writeData(p) }
      assert(builds === 1)
      assert(new File(out, Staged.Marker).exists())
    }
  }

  test("staging sweeps other tags and spares this tag's in-flight builds") {
    withFixture { (fixture, prefix, tag) =>
      val stale = Seq(prefix + "deadbeef", prefix + "deadbeef.tmp-1")
      val inFlight = s"$prefix$tag.tmp-concurrent"
      (stale :+ inFlight).foreach(n => writeData(new File(tmp, n).toString))
      Staged.dir(prefix, fixture)(writeData)
      assert(entries(prefix) === Set(prefix + tag, inFlight))
      assert(new File(tmp, s"$inFlight/part-0.parquet").exists())
    }
  }

  test("fixtures sharing a prefix keep each other's dirs; new data sweeps only its own") {
    withFixture { (fixture, prefix, tag) =>
      val other = Files.createTempDirectory("graft_stagedspec_other")
      Files.writeString(other.resolve("t.parquet"), "other rows")
      try {
        val mine = Staged.dir(prefix, fixture)(writeData)
        val theirs = Staged.dir(prefix, other.toString)(writeData)
        val theirTag = Tables.dataFingerprint(other.toString)
        assert(theirTag !== tag)
        assert(entries(prefix) === Set(prefix + tag, prefix + theirTag))
        assert(Files.readString(new File(mine, Staged.Marker).toPath) ===
          new File(fixture).getCanonicalPath)
        // the first fixture's data changes: its old tag goes, the other
        // fixture's dir stays
        Files.writeString(java.nio.file.Paths.get(fixture, "t.parquet"),
          "regenerated rows")
        val newTag = Tables.dataFingerprint(fixture)
        assert(newTag !== tag)
        Staged.dir(prefix, fixture)(writeData)
        assert(entries(prefix) === Set(prefix + newTag, prefix + theirTag))
        assert(new File(theirs, "part-0.parquet").exists())
      } finally {
        Staged.sweep(prefix, "", other.toString)
        Files.delete(other.resolve("t.parquet"))
        Files.delete(other)
      }
    }
  }

  test("runDir sweeps earlier runs and keeps the current one") {
    withFixture { (_, prefix, _) =>
      val first = Staged.runDir(prefix)
      writeData(first)
      val second = Staged.runDir(prefix)
      assert(second !== first)
      assert(new File(second).isDirectory)
      assert(entries(prefix) === Set(new File(second).getName))
    }
  }

  test("runDir spares a live foreign process's run and sweeps ownerless ones") {
    withFixture { (_, prefix, _) =>
      val parent = ProcessHandle.current().parent()
      assume(parent.isPresent, "no parent process to stand in for another JVM")
      // a run of a live process (this JVM's parent), one of a pid that
      // cannot be alive, and one in the older name form with no owner pid
      val live = s"$prefix${parent.get.pid()}-1"
      writeData(new File(tmp, live).toString)
      writeData(new File(tmp, s"$prefix${Int.MaxValue}-1").toString)
      writeData(new File(tmp, s"${prefix}123").toString)
      val own = Staged.runDir(prefix)
      writeData(own)
      val next = Staged.runDir(prefix)
      assert(entries(prefix) === Set(live, new File(next).getName))
      assert(new File(tmp, s"$live/part-0.parquet").exists())
    }
  }
}
