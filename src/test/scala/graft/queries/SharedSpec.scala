package graft.queries

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkSpec, TempDirs}
import graft.ext.Dedup

class SharedSpec extends AnyFunSuite with SparkSpec {

  test("loadOrBuild clears an old-layout state dir when it rebuilds, then loads") {
    import spark.implicits._
    val dir = TempDirs.make("graft_resemb_state").toString
    // the layout before the versioned store: a manifest file, a drift
    // counter and bare part dirs at the root, which the store never reads
    val old = Seq("sets", "dfreq", "prefix", "_GRAFT_STATE", "stale")
    Seq("sets", "dfreq", "prefix").foreach { p =>
      new File(s"$dir/$p").mkdirs()
      Files.write(new File(s"$dir/$p/part-00000.parquet").toPath, Array[Byte](1))
    }
    Files.write(new File(s"$dir/_GRAFT_STATE").toPath, "threshold=0.6".getBytes(UTF_8))
    Files.write(new File(s"$dir/stale").toPath, "0".getBytes(UTF_8))
    val params = Dedup.ResemblanceParams(0.6, 1)
    val standing = Seq((1L, "a b c d"), (2L, "p q r s")).toDF("doc_id", "text")
    var builds = 0
    def state(): Dedup.ResemblanceState =
      Shared.loadOrBuild(dir)(Dedup.loadResemblanceState(spark, dir, params)) {
        builds += 1
        Dedup.saveResemblanceState(Dedup.resemblanceState(standing, "doc_id",
          "text", threshold = 0.6, shingleK = 1), dir)
      }
    val st = state()
    assert(builds == 1)
    val left = new File(dir).list().toSet
    assert(left.intersect(old.toSet).isEmpty,
      s"old-layout frames survived the rebuild: ${left.intersect(old.toSet)}")
    assert(st.sets.count() == 2L)
    state()
    assert(builds == 1, "a committed state must load, not rebuild")
    // old-layout frames beside a committed version (a dir the store first
    // wrote into after the layout changed) are cleared by one rebuild
    new File(s"$dir/sets").mkdirs()
    Files.write(new File(s"$dir/_GRAFT_STATE").toPath, "threshold=0.6".getBytes(UTF_8))
    assert(state().sets.count() == 2L)
    assert(builds == 2)
    val after = new File(dir).list().toSet
    assert(after.intersect(old.toSet).isEmpty,
      s"old-layout frames survived beside the committed version: $after")
    state()
    assert(builds == 2, "a cleared dir must load, not rebuild again")
  }

  test("loadOrBuild names the dir when the saved state does not read back") {
    val dir = TempDirs.make("graft_unreadable_state").toString
    val e = intercept[IllegalStateException] {
      Shared.loadOrBuild(dir)(Option.empty[Int])(())
    }
    assert(e.getMessage.contains(dir))
  }
}
