package graft

import graft.sources.{AdditiveLedger, DeltaParts}
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** The additive-parts ledger: atomic publish, add-if-absent replay
  * safety, and DEFERRED compaction GC — superseded parts outlive one
  * more compaction cycle ([[AdditiveLedger.compactWith]]) for in-flight
  * readers of the old ledger. */
class DeltaPartsSpec extends AnyFunSuite {

  private def mk(dir: String, name: String): Unit = {
    val d = new java.io.File(s"$dir/$name"); d.mkdirs()
    Files.writeString(d.toPath.resolve("data"), name)
  }
  private def exists(dir: String, name: String) =
    new java.io.File(s"$dir/$name").exists()

  test("add is idempotent; the compact cycle defers deletion one cycle") {
    val dir = Files.createTempDirectory("deltaparts").toString
    mk(dir, "part_a"); mk(dir, "part_b")
    DeltaParts.publish(dir, Seq("part_a"))
    DeltaParts.add(dir, "part_b")
    DeltaParts.add(dir, "part_b")
    assert(DeltaParts.list(dir) == Seq("part_a", "part_b"))

    // one compact cycle; the generation folds exactly the listing handed in
    def compact(): String = {
      var gen = ""
      AdditiveLedger.compactWith(dir, Seq(dir)) { (g, old) =>
        assert(old == DeltaParts.list(dir))
        mk(dir, g); gen = g
      }
      gen
    }

    // first compaction: ledger flips, superseded dirs SURVIVE for
    // readers that resolved the old ledger
    val c1 = compact()
    assert(DeltaParts.list(dir) == Seq(c1))
    assert(exists(dir, "part_a") && exists(dir, "part_b"),
      "superseded parts must outlive one compaction cycle")

    // second compaction sweeps the cycle-old orphans, keeps the live part
    mk(dir, "part_d"); DeltaParts.add(dir, "part_d")
    val c2 = compact()
    assert(DeltaParts.list(dir) == Seq(c2))
    assert(!exists(dir, "part_a") && !exists(dir, "part_b"))
    assert(exists(dir, c1) && exists(dir, "part_d"),
      "the just-superseded parts stay one more cycle")
  }
}
