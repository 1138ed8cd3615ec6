package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{CurationOps, EvalStore}

/** Standing eval-decontamination registry: every law is EXACT (digest
  * counts are purely additive).
  *  - probe against the store ≡ CurationOps.decontaminate against the
  *    union of the registered suites (overlap counts AND flags), with
  *    per-suite hit attribution on top;
  *  - named replay is a no-op, including replay AFTER compaction;
  *  - deregister is the exact inverse of register — a retired suite
  *    stops flagging;
  *  - retroScan screens the corpus against ONLY the named suite;
  *  - a snapshot tag replays the tagged registry across later
  *    mutations; init refuses a used dir and a mismatched gram size
  *    cannot arise (n is pinned at init). */
class EvalStoreSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def docsOf(rows: (Long, String)*): DataFrame =
    rows.toDF("doc_id", "text")

  // 3-grams; suites share some grams with the corpus and each other.
  private val corpus = docsOf(
    1L -> "the cat sat on the mat today",
    2L -> "a dog barks at the moon",
    3L -> "quantum flux capacitors hum quietly",
    4L -> "the cat sat on a chair")
  private val suiteA = docsOf(10L -> "the cat sat on the mat")
  private val suiteB = docsOf(20L -> "a dog barks at the moon", 21L -> "the cat sat still")

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("evalstore").toString + "/s"

  private def probed(dir: String, tag: Option[String] = None)
      : Map[Long, (Long, Boolean, String)] =
    EvalStore.probe(spark, dir, corpus, "doc_id", "text", tag).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2), r.getString(3))))
      .toMap

  private def reference(suites: DataFrame): Map[Long, (Long, Boolean)] =
    CurationOps.decontaminate(corpus, suites, "doc_id", "text", n = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap

  test("probe == decontaminate vs the suite union; per-suite attribution") {
    val dir = tmp()
    EvalStore.init(spark, dir, "suite_a", suiteA, "text", n = 3)
    EvalStore.register(spark, dir, "suite_b", suiteB, "text")
    val got = probed(dir)
    assert(got.view.mapValues(v => (v._1, v._2)).toMap ===
      reference(suiteA.union(suiteB)))
    // doc 1 shares grams with both suites; doc 2 only with b; doc 3 none.
    assert(got(1L)._3 === "suite_a,suite_b")
    assert(got(2L)._3 === "suite_b")
    assert(got(3L) === ((0L, false, "")))
    EvalStore.compact(spark, dir)
    assert(probed(dir).view.mapValues(v => (v._1, v._2)).toMap ===
      reference(suiteA.union(suiteB)))
  }

  test("named replay is a no-op, including after compaction folded the part") {
    val dir = tmp()
    EvalStore.init(spark, dir, "suite_a", suiteA, "text", n = 3)
    EvalStore.register(spark, dir, "suite_b", suiteB, "text", Some("b"))
    EvalStore.register(spark, dir, "suite_b", suiteB, "text", Some("b"))
    EvalStore.compact(spark, dir)
    EvalStore.register(spark, dir, "suite_b", suiteB, "text", Some("b"))
    assert(probed(dir).view.mapValues(v => (v._1, v._2)).toMap ===
      reference(suiteA.union(suiteB)))
  }

  test("deregister is the exact inverse — a retired suite stops flagging") {
    val dir = tmp()
    EvalStore.init(spark, dir, "suite_a", suiteA, "text", n = 3)
    EvalStore.register(spark, dir, "suite_b", suiteB, "text", Some("b"))
    EvalStore.deregister(spark, dir, "suite_b", suiteB, "text", Some("rm_b"))
    assert(probed(dir).view.mapValues(v => (v._1, v._2)).toMap ===
      reference(suiteA))
    assert(probed(dir)(2L) === ((0L, false, "")))
    EvalStore.compact(spark, dir)
    assert(probed(dir).view.mapValues(v => (v._1, v._2)).toMap ===
      reference(suiteA))
  }

  test("retroScan screens the corpus against ONLY the named suite") {
    val dir = tmp()
    EvalStore.init(spark, dir, "suite_a", suiteA, "text", n = 3)
    EvalStore.register(spark, dir, "suite_b", suiteB, "text")
    val retro = EvalStore.retroScan(spark, dir, corpus, "doc_id", "text", "suite_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expect = reference(suiteB).collect { case (id, (n, true)) => id -> n }
    assert(retro === expect)
    assert(retro.contains(2L) && !retro.contains(3L))
    // a typo'd suite must refuse, not report "no contamination"
    val e = intercept[IllegalArgumentException](
      EvalStore.retroScan(spark, dir, corpus, "doc_id", "text", "suite_nope"))
    assert(e.getMessage.contains("no digests"))
  }

  test("snapshot tag replays the tagged registry across later mutations") {
    val dir = tmp()
    EvalStore.init(spark, dir, "suite_a", suiteA, "text", n = 3)
    EvalStore.snapshot(dir, "v1")
    val at1 = probed(dir, None)
    EvalStore.register(spark, dir, "suite_b", suiteB, "text")
    EvalStore.compact(spark, dir)
    assert(probed(dir, Some("v1")) === at1)
    assert(probed(dir).view.mapValues(v => (v._1, v._2)).toMap ===
      reference(suiteA.union(suiteB)))
  }

  test("probe plan broadcasts the registry — no shuffle of the batch gram stream") {
    val dir = tmp()
    EvalStore.init(spark, dir, "suite_a", suiteA, "text", n = 3)
    val plan = EvalStore.probe(spark, dir, corpus, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"registry probe must be a broadcast join:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"a sort-merge join here shuffles the corpus-sized gram stream:\n$plan")
  }

  test("init refuses a used dir; fsck is green on a healthy store") {
    val dir = tmp()
    EvalStore.init(spark, dir, "suite_a", suiteA, "text", n = 3)
    val e = intercept[IllegalStateException](
      EvalStore.init(spark, dir, "suite_b", suiteB, "text", n = 3))
    assert(e.getMessage.contains("already initialized"))
    assert(EvalStore.gramSize(dir) === 3)
    val rep = EvalStore.fsck(spark, dir)
    assert(rep.filter(!col("ok")).count() === 0)
    assert(rep.filter(col("check") === "gram_size_pinned").count() === 1)
  }
}
