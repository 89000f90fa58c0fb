package graft.operators

import graft.SparkSpec
import graft.core.Checkpoints
import org.apache.spark.sql.functions._

/** The cluster-posture switch: every iterative operator that pins plan
  * lineage (lineage walks, both CC operators, the global rank) must
  * produce identical results whether the session is in "local" (default)
  * or "reliable" checkpoint mode — one conf flips all of them. Also the
  * contract of the convergence driver (`converge`, `pinObserved`). */
class CheckpointsSpec extends SparkSpec {
  import spark.implicits._

  private def withMode[A](mode: String)(body: => A): A = {
    spark.conf.set(Checkpoints.ModeKey, mode)
    try body finally spark.conf.unset(Checkpoints.ModeKey)
  }

  private def runAll(): Seq[Seq[Seq[Any]]] = {
    // A 3-level chain DAG + a fork: 1→2→3, 4→3.
    val edges = Seq((1L, 2L), (2L, 3L), (4L, 3L)).toDF("child", "parent")
    val anc = rows(Lineage.ancestors(edges).orderBy("node", "anc", "depth"))
    val desc = rows(Lineage.descendants(edges, Seq(3L).toDF("node"))
      .orderBy("start", "descendant", "depth"))
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val cc = rows(Dedup.connectedComponents(pairs).orderBy("id"))
    val ccStar = rows(Dedup.connectedComponentsStar(pairs).orderBy("id"))
    val ranked = rows(Align.alignSorted(
        Seq("b", "a", "c").toDF("x"), Seq("q", "p", "r").toDF("y"),
        col("x"), col("y")).orderBy("x"))
    Seq(anc, desc, cc, ccStar, ranked)
  }

  test("reliable mode produces identical results to local mode") {
    val ckptDir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.sparkContext.setCheckpointDir(ckptDir)
    val local = withMode("local")(runAll())
    val reliable = withMode("reliable")(runAll())
    assert(local === reliable)
    // Reliable mode really wrote into the fault-tolerant checkpoint dir.
    val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(ckptDir))
      .filter(java.nio.file.Files.isRegularFile(_)).count()
    assert(wrote > 0, "reliable mode should materialize checkpoint files")
  }

  test("converge throws the caller's message after exactly cap rounds") {
    var rounds = 0
    val e = intercept[IllegalStateException] {
      Checkpoints.converge(0, 7, "no fixpoint in 7") { s => rounds += 1; (s + 1, false) }
    }
    assert(e.getMessage == "no fixpoint in 7")
    assert(rounds == 7)
    // converging in the last allowed round is not a failure
    assert(Checkpoints.converge(0, 7, "unused") { s => (s + 1, s + 1 == 7) } == 7)
  }

  test("pinObserved over an empty frame: the count is 0, a fold is null") {
    val (pinned, m) = Checkpoints.pinObserved(spark.range(0).toDF(),
      count(lit(1)).as("n"), bit_xor(col("id")).as("h"))
    assert(pinned.count() == 0)
    assert(m.getLong(0) == 0L)
    assert(m.isNullAt(1))
  }

  test("an unknown mode fails loudly") {
    val e = intercept[IllegalArgumentException] {
      withMode("bogus")(Checkpoints.pin(spark.range(1).toDF()))
    }
    assert(e.getMessage.contains(Checkpoints.ModeKey))
  }
}
