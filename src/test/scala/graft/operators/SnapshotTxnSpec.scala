package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Multi-table atomic transactions (SnapshotTxn): all-or-nothing
  * visibility across N tables, kill-injection at every protocol stage
  * (crash before commit = invisible; crash after the commit point =
  * rolled forward by recovery), base-conflict aborts, stolen-slot
  * detection, txn-aware orphan vacuum, and racing transactions.
  */
class SnapshotTxnSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(pfx: String) =
    java.nio.file.Files.createTempDirectory(pfx).toString

  private def kv(rows: (Long, String)*) = rows.toSeq.toDF("k", "v")

  test("atomic multi-table commit: both tables move, versions as returned") {
    val root = tmp("graft-txr"); val a = tmp("graft-txa")
    val b = tmp("graft-txb")
    Snapshot.publishSnapshot(kv(1L -> "a1"), a, statsCol = Some("k"))
    Snapshot.publishSnapshot(kv(1L -> "b1"), b)
    val txn = SnapshotTxn.begin(spark, root)
    txn.stageAppend(kv(2L -> "a2"), a)
    txn.stageAppend(kv(2L -> "b2"), b)
    // nothing visible before commit
    assert(Snapshot.latestVersion(spark, a) == 1)
    assert(Snapshot.latestVersion(spark, b) == 1)
    val versions = txn.commit()
    assert(versions === Map(a -> 2, b -> 2))
    assert(rows(Snapshot.readSnapshot(spark, a, 2).orderBy("k")) ===
      Seq(Seq(1L, "a1"), Seq(2L, "a2")))
    assert(rows(Snapshot.readSnapshot(spark, b, 2).orderBy("k")) ===
      Seq(Seq(1L, "b1"), Seq(2L, "b2")))
    // stats survive the transactional append (carried verbatim)
    assert(Snapshot.filesForRange(spark, a, 2, 1L, 1L).nonEmpty)
  }

  test("kill before the commit point: nothing visible, orphans reclaim") {
    val root = tmp("graft-txr2"); val a = tmp("graft-txa2")
    val b = tmp("graft-txb2")
    Snapshot.publishSnapshot(kv(1L -> "a1"), a)
    Snapshot.publishSnapshot(kv(1L -> "b1"), b)
    val txn = SnapshotTxn.begin(spark, root)
    txn.stageAppend(kv(2L -> "a2"), a)
    txn.stageAppend(kv(2L -> "b2"), b)
    // "crash": the txn object is dropped, commit never runs
    assert(Snapshot.latestVersion(spark, a) == 1)
    assert(SnapshotTxn.recover(spark, root) == 0)
    assert(Snapshot.latestVersion(spark, a) == 1)
    assert(Snapshot.readSnapshot(spark, a, 1).count() == 1)
    // the staged bytes + pending manifests are orphans (age 0 here)
    assert(Snapshot.vacuumOrphans(spark, a, olderThanMs = -1000L) >= 2)
    assert(Snapshot.vacuumOrphans(spark, b, olderThanMs = -1000L) >= 2)
    // and the tables still read exactly as committed
    assert(rows(Snapshot.readSnapshot(spark, a, 1)) === Seq(Seq(1L, "a1")))
  }

  test("kill AFTER the commit point: recovery rolls every table forward") {
    val root = tmp("graft-txr3"); val a = tmp("graft-txa3")
    val b = tmp("graft-txb3")
    Snapshot.publishSnapshot(kv(1L -> "a1"), a, statsCol = Some("k"))
    Snapshot.publishSnapshot(kv(1L -> "b1"), b)
    val txn = SnapshotTxn.begin(spark, root)
    txn.stageAppend(kv(2L -> "a2"), a)
    txn.stageAppend(kv(2L -> "b2"), b)
    val id = txn.commitNoFinalize() // committer dies here
    assert(id == 1)
    // the commit point is the txn manifest: versions not yet visible
    assert(Snapshot.latestVersion(spark, a) == 1)
    // ANY reader through the log sees the committed state
    assert(rows(SnapshotTxn.readLatest(spark, root, a).orderBy("k")) ===
      Seq(Seq(1L, "a1"), Seq(2L, "a2")))
    // recovery already ran inside readLatest; B is forward too
    assert(Snapshot.latestVersion(spark, b) == 2)
    assert(rows(Snapshot.readSnapshot(spark, b, 2).orderBy("k")) ===
      Seq(Seq(1L, "b1"), Seq(2L, "b2")))
    // recovery is idempotent
    assert(SnapshotTxn.recover(spark, root) == 0)
    // pendings are consumed: vacuumOrphans reclaims nothing of the txn
    assert(Snapshot.vacuumOrphans(spark, a, olderThanMs = -1000L) == 0)
  }

  test("base advanced between stage and commit: whole txn aborts, bytes cleaned") {
    val root = tmp("graft-txr4"); val a = tmp("graft-txa4")
    val b = tmp("graft-txb4")
    Snapshot.publishSnapshot(kv(1L -> "a1"), a)
    Snapshot.publishSnapshot(kv(1L -> "b1"), b)
    val txn = SnapshotTxn.begin(spark, root)
    txn.stageAppend(kv(2L -> "a2"), a)
    txn.stageAppend(kv(2L -> "b2"), b)
    // a plain writer wins table B first
    Snapshot.appendSnapshot(kv(9L -> "b9"), b)
    intercept[Snapshot.ConcurrentSnapshotUpdate] { txn.commit() }
    // NEITHER table shows the transaction (B's foreign append stands)
    assert(Snapshot.latestVersion(spark, a) == 1)
    assert(Snapshot.latestVersion(spark, b) == 2)
    assert(rows(Snapshot.readSnapshot(spark, b, 2).orderBy("k")) ===
      Seq(Seq(1L, "b1"), Seq(9L, "b9")))
    // staged bytes were cleaned by the abort
    assert(Snapshot.vacuumOrphans(spark, a, olderThanMs = -1000L) == 0)
    // the txn log records nothing
    assert(Snapshot.latestVersion(spark, root) == 0)
  }

  test("stolen slot between commit point and recovery fails loudly") {
    val root = tmp("graft-txr5"); val a = tmp("graft-txa5")
    Snapshot.publishSnapshot(kv(1L -> "a1"), a)
    val txn = SnapshotTxn.begin(spark, root)
    txn.stageAppend(kv(2L -> "a2"), a)
    txn.commitNoFinalize()
    // a NON-transactional writer steals v2 before recovery runs
    Snapshot.appendSnapshot(kv(9L -> "a9"), a)
    val e = intercept[IllegalStateException] {
      SnapshotTxn.recover(spark, root)
    }
    assert(e.getMessage.contains("NON-transactional"))
    // the interloper's committed version is never clobbered
    assert(rows(Snapshot.readSnapshot(spark, a, 2).orderBy("k")) ===
      Seq(Seq(1L, "a1"), Seq(9L, "a9")))
  }

  test("publish + append mix; fresh tables via stagePublish") {
    val root = tmp("graft-txr6"); val a = tmp("graft-txa6")
    val b = tmp("graft-txb6")
    Snapshot.publishSnapshot(kv(1L -> "a1"), a)
    val txn = SnapshotTxn.begin(spark, root)
    txn.stageAppend(kv(2L -> "a2"), a)
    txn.stagePublish(kv(10L -> "b10"), b, statsCol = Some("k"))
    val versions = txn.commit()
    assert(versions === Map(a -> 2, b -> 1))
    assert(Snapshot.readSnapshot(spark, b, 1).count() == 1)
    assert(Snapshot.statsColsOf(spark, b, 1) === Seq("k"))
    // the #rows header rode the transactional commit
    assert(rows(Snapshot.snapshotHistory(spark, b))
      .map(r => (r(0), r(3))) === Seq((1, 1L)))
  }

  test("vacuum interop: retention under txn versions; recovery survives vacuumed targets") {
    val root = tmp("graft-txr8"); val a = tmp("graft-txa8")
    Snapshot.publishSnapshot(kv(1L -> "a1"), a)
    val t = SnapshotTxn.begin(spark, root)
    t.stageAppend(kv(2L -> "a2"), a)
    t.commit() // v2 via txn
    val t2 = SnapshotTxn.begin(spark, root)
    t2.stageAppend(kv(3L -> "a3"), a)
    t2.commitNoFinalize() // crashed committer
    SnapshotTxn.recover(spark, root) // v3 lands
    Snapshot.appendSnapshot(kv(4L -> "a4"), a) // v4, plain
    // vacuum away v1..v2: txn-created versions obey normal retention
    Snapshot.vacuum(spark, a, keepFrom = 3)
    assert(Snapshot.readSnapshot(spark, a, 4).count() == 4)
    // recovery over a log whose targets were finalized AND vacuumed is
    // a clean no-op — never an error, never a re-publish
    assert(SnapshotTxn.recover(spark, root) == 0)
    assert(Snapshot.latestVersion(spark, a) == 4)
    // orphan vacuum after recover reclaims nothing of committed txns
    assert(Snapshot.vacuumOrphans(spark, a, olderThanMs = -1000L) == 0)
  }

  test("soak: racing transactions + plain appends, retry loop, serial history holds") {
    import java.util.concurrent.{Callable, Executors, TimeUnit}
    val root = tmp("graft-txsk"); val a = tmp("graft-txska")
    val b = tmp("graft-txskb")
    Snapshot.publishSnapshot(kv(0L -> "a0"), a)
    Snapshot.publishSnapshot(kv(0L -> "b0"), b)
    val pool = Executors.newFixedThreadPool(3)
    try {
      // two transactional writers (each row lands in A AND B or in
      // neither) race one plain appender on A
      val txWriters = (1 to 2).map { w =>
        pool.submit(new Callable[Unit] {
          def call(): Unit = (0 until 4).foreach { i =>
            val key = 100L * w + i
            var done = false
            while (!done) {
              val t = SnapshotTxn.begin(spark, root)
              try {
                t.stageAppend(kv(key -> s"a-$key"), a)
                t.stageAppend(kv(key -> s"b-$key"), b)
                t.commit(); done = true
              } catch {
                case _: Snapshot.ConcurrentSnapshotUpdate => // restage
              }
            }
          }
        })
      }
      val plain = pool.submit(new Callable[Unit] {
        def call(): Unit = (0 until 4).foreach { i =>
          Snapshot.appendSnapshot(kv(900L + i -> s"p$i"), a)
        }
      })
      (txWriters :+ plain).foreach(_.get(300, TimeUnit.SECONDS))
    } finally pool.shutdownNow()
    val aKeys = Snapshot.readSnapshot(spark, a,
      Snapshot.latestVersion(spark, a))
      .select("k").collect().map(_.getLong(0)).toSet
    val bKeys = Snapshot.readSnapshot(spark, b,
      Snapshot.latestVersion(spark, b))
      .select("k").collect().map(_.getLong(0)).toSet
    val txKeys = (1 to 2).flatMap(w => (0 until 4).map(i => 100L * w + i)).toSet
    // atomicity: the transactional keys appear in BOTH tables
    assert((aKeys & txKeys) === txKeys, s"A lost ${txKeys -- aKeys}")
    assert((bKeys & txKeys) === txKeys, s"B lost ${txKeys -- bKeys}")
    // the plain appender lost nothing to the transactions
    assert((900L until 904L).forall(aKeys), s"plain appends lost: $aKeys")
    // versions contiguous on both tables (8 txn + 4 plain on A; 8 on B)
    assert(Snapshot.latestVersion(spark, a) == 13)
    assert(Snapshot.latestVersion(spark, b) == 9)
  }

  test("soak: DIFFERING table sets + crashed commits + a recoverer: no deadlock, nothing lost") {
    // The lock-order trap this pins: a committer must never acquire a
    // foreign table's lock (finalizing someone else's crashed txn)
    // while holding its own sorted table set — writer sets {a,b} and
    // {b,c} with half the commits dying at the commit point make that
    // interleaving constant. A deadlock here hangs the futures past
    // the timeout.
    import java.util.concurrent.{Callable, Executors, TimeUnit}
    val root = tmp("graft-txdl"); val a = tmp("graft-txdla")
    val b = tmp("graft-txdlb"); val c = tmp("graft-txdlc")
    Seq(a, b, c).foreach(d => Snapshot.publishSnapshot(kv(0L -> "z"), d))
    val pool = Executors.newFixedThreadPool(3)
    try {
      def writer(w: Int, t1: String, t2: String) =
        pool.submit(new Callable[Unit] {
          def call(): Unit = (0 until 6).foreach { i =>
            val key = 100L * w + i
            var done = false
            while (!done) {
              val t = SnapshotTxn.begin(spark, root)
              try {
                t.stageAppend(kv(key -> s"x$key"), t1)
                t.stageAppend(kv(key -> s"y$key"), t2)
                if (i % 2 == 1) t.commitNoFinalize() else t.commit()
                done = true
              } catch {
                case _: Snapshot.ConcurrentSnapshotUpdate => // restage
              }
            }
          }
        })
      val w1 = writer(1, a, b)
      val w2 = writer(2, b, c)
      val recoverer = pool.submit(new Callable[Unit] {
        def call(): Unit = (0 until 60).foreach { _ =>
          SnapshotTxn.recover(spark, root); Thread.sleep(10)
        }
      })
      // a deadlock (the bug this guards) trips these timeouts
      Seq(w1, w2, recoverer).foreach(_.get(240, TimeUnit.SECONDS))
    } finally pool.shutdownNow()
    SnapshotTxn.recover(spark, root)
    def keysOf(d: String) = Snapshot.readSnapshot(spark, d,
      Snapshot.latestVersion(spark, d))
      .select("k").collect().map(_.getLong(0)).toSet
    val (ka, kb, kc) = (keysOf(a), keysOf(b), keysOf(c))
    (0 until 6).foreach { i =>
      assert(ka(100L + i) && kb(100L + i), s"w1 txn $i torn/lost")
      assert(kb(200L + i) && kc(200L + i), s"w2 txn $i torn/lost")
    }
    assert(SnapshotTxn.latestTxn(spark, root) == 12)
    ()
  }

  test("two racing transactions on overlapping tables: one wins, one aborts cleanly") {
    val root = tmp("graft-txr7"); val a = tmp("graft-txa7")
    val b = tmp("graft-txb7"); val c = tmp("graft-txc7")
    Snapshot.publishSnapshot(kv(1L -> "a1"), a)
    Snapshot.publishSnapshot(kv(1L -> "b1"), b)
    Snapshot.publishSnapshot(kv(1L -> "c1"), c)
    val t1 = SnapshotTxn.begin(spark, root)
    t1.stageAppend(kv(2L -> "a2"), a); t1.stageAppend(kv(2L -> "b2"), b)
    val t2 = SnapshotTxn.begin(spark, root)
    t2.stageAppend(kv(3L -> "b3"), b); t2.stageAppend(kv(3L -> "c3"), c)
    t1.commit()
    // t2 staged against B's old base: must abort whole, C untouched
    intercept[Snapshot.ConcurrentSnapshotUpdate] { t2.commit() }
    assert(Snapshot.latestVersion(spark, b) == 2)
    assert(Snapshot.latestVersion(spark, c) == 1)
    // retry path: restage and commit
    val t3 = SnapshotTxn.begin(spark, root)
    t3.stageAppend(kv(3L -> "b3"), b); t3.stageAppend(kv(3L -> "c3"), c)
    t3.commit()
    assert(rows(Snapshot.readSnapshot(spark, b, 3).orderBy("k"))
      .map(_.head) === Seq(1L, 2L, 3L))
    assert(rows(Snapshot.readSnapshot(spark, c, 2).orderBy("k"))
      .map(_.head) === Seq(1L, 3L))
  }

  test("stageMerge/stageDelete: MoR DML + append commit or roll back together") {
    val root = tmp("graft-txm"); val s = tmp("graft-txms")
    val d = tmp("graft-txmd")
    // the reference's mutate-and-register unit: update an EXISTING
    // sample's property AND register a dataset, atomically
    Snapshot.publishSnapshot(kv(1L -> "sample-old", 2L -> "other"), s)
    Snapshot.publishSnapshot(kv(10L -> "ds0"), d)
    // kill BEFORE the commit point: nothing visible anywhere
    val dead = SnapshotTxn.begin(spark, root)
    dead.stageMerge(kv(1L -> "sample-NEW"), s, "k")
    dead.stageAppend(kv(11L -> "ds1"), d)
    assert(Snapshot.latestVersion(spark, s) == 1)
    assert(Snapshot.latestVersion(spark, d) == 1)
    assert(Snapshot.vacuumOrphans(spark, s, olderThanMs = -1000L) >= 2)
    assert(Snapshot.vacuumOrphans(spark, d, olderThanMs = -1000L) >= 2)
    assert(rows(Snapshot.readSnapshot(spark, s, 1).orderBy("k")) ===
      Seq(Seq(1L, "sample-old"), Seq(2L, "other")))
    // kill AFTER the commit point: recovery rolls BOTH forward, and the
    // MoR version resolves (tombstone + re-insert visible as an update)
    val t = SnapshotTxn.begin(spark, root)
    t.stageMerge(kv(1L -> "sample-NEW"), s, "k")
    t.stageAppend(kv(11L -> "ds1"), d)
    t.commitNoFinalize()
    assert(Snapshot.latestVersion(spark, s) == 1) // not yet finalized
    assert(rows(SnapshotTxn.readLatest(spark, root, s).orderBy("k")) ===
      Seq(Seq(1L, "sample-NEW"), Seq(2L, "other")))
    assert(Snapshot.latestVersion(spark, d) == 2)
    assert(Snapshot.manifestLines(spark, s, 2).exists(_.startsWith("!")))
    // transactional keyed DELETE rides the same machinery
    val t2 = SnapshotTxn.begin(spark, root)
    t2.stageDelete(Seq(2L).toDF("k"), s, "k")
    t2.stageAppend(kv(12L -> "ds2"), d)
    assert(t2.commit() === Map(s -> 3, d -> 3))
    assert(rows(Snapshot.readSnapshot(spark, s, 3)) ===
      Seq(Seq(1L, "sample-NEW")))
    // base-conflict abort cleans the _del staging too
    val t3 = SnapshotTxn.begin(spark, root)
    t3.stageMerge(kv(1L -> "loser"), s, "k")
    Snapshot.mergeSnapshotMoR(kv(1L -> "winner"), s, "k")
    intercept[Snapshot.ConcurrentSnapshotUpdate] { t3.commit() }
    assert(Snapshot.vacuumOrphans(spark, s, olderThanMs = -1000L) == 0)
    assert(rows(SnapshotTxn.readLatest(spark, root, s)) ===
      Seq(Seq(1L, "winner")))
    ()
  }

  test("stageDeleteWhere/stageUpdateWhere: predicate DML in a txn; no-match enrolls nothing") {
    val root = tmp("graft-txpw"); val s = tmp("graft-txpws")
    val d = tmp("graft-txpwd")
    Snapshot.publishSnapshot(
      (0L until 20L).map(k => (k, k * 10)).toDF("k", "bal")
        .repartitionByRange(4, col("k")), s, statsCol = Some("k"))
    Snapshot.publishSnapshot(kv(100L -> "d0"), d)
    // predicate delete + append, atomic; pruning rides the stats column
    val t1 = SnapshotTxn.begin(spark, root)
    assert(t1.stageDeleteWhere(s, "k", col("k") >= 15L))
    t1.stageAppend(kv(101L -> "d1"), d)
    t1.commit()
    assert(rows(Snapshot.readSnapshot(spark, s, 2).orderBy("k"))
      .map(_.head) === (0L until 15L))
    // predicate update with a self-referencing SET, crash after the
    // commit point: recovery lands both tables
    val t2 = SnapshotTxn.begin(spark, root)
    assert(t2.stageUpdateWhere(s, "k", col("k") < 3L,
      Map("bal" -> (col("bal") + 1L))))
    t2.stageAppend(kv(102L -> "d2"), d)
    t2.commitNoFinalize()
    assert(rows(SnapshotTxn.readLatest(spark, root, s)
      .filter(col("k") < 3L).orderBy("k")) ===
      Seq(Seq(0L, 1L), Seq(1L, 11L), Seq(2L, 21L)))
    assert(Snapshot.latestVersion(spark, d) == 3)
    // no-match predicates enroll NOTHING: the txn commits the other
    // table alone, no spurious tombstone version
    val t3 = SnapshotTxn.begin(spark, root)
    assert(!t3.stageDeleteWhere(s, "k", col("k") > 9000L))
    assert(!t3.stageUpdateWhere(s, "k", col("k") > 9000L,
      Map("bal" -> lit(0L))))
    t3.stageAppend(kv(103L -> "d3"), d)
    t3.commit()
    assert(Snapshot.latestVersion(spark, s) == 3)
    assert(Snapshot.latestVersion(spark, d) == 4)
    // SET on the key refuses
    val t4 = SnapshotTxn.begin(spark, root)
    intercept[IllegalArgumentException] {
      t4.stageUpdateWhere(s, "k", col("k") < 2L, Map("k" -> lit(0L)))
    }
    t4.abort()
    ()
  }

  test("asOfTxn: a two-table reader pinned to one txn never observes half a transaction") {
    val root = tmp("graft-txq"); val a = tmp("graft-txqa")
    val b = tmp("graft-txqb")
    Snapshot.publishSnapshot(kv(1L -> "a1"), a)
    Snapshot.publishSnapshot(kv(1L -> "b1"), b)
    val t1 = SnapshotTxn.begin(spark, root)
    t1.stageAppend(kv(2L -> "a2"), a); t1.stageAppend(kv(2L -> "b2"), b)
    t1.commit()
    // reader pins the newest txn BEFORE the racing commit
    val k = SnapshotTxn.latestTxn(spark, root)
    assert(k == 1)
    assert(SnapshotTxn.asOfTxn(spark, root, k) === Map(a -> 2, b -> 2))
    val aAt = rows(SnapshotTxn.readAsOfTxn(spark, root, k, a).orderBy("k"))
    // txn2 commits BETWEEN the reader's two table reads — and dies
    // before finalizing, the worst interleaving (readAsOfTxn's bundled
    // recover lands its versions mid-read)
    val t2 = SnapshotTxn.begin(spark, root)
    t2.stageAppend(kv(3L -> "a3"), a); t2.stageAppend(kv(3L -> "b3"), b)
    t2.commitNoFinalize()
    val bAt = rows(SnapshotTxn.readAsOfTxn(spark, root, k, b).orderBy("k"))
    // the pinned snapshot is consistent: both tables show exactly txn 1
    assert(aAt === Seq(Seq(1L, "a1"), Seq(2L, "a2")))
    assert(bAt === Seq(Seq(1L, "b1"), Seq(2L, "b2")))
    // while the log's head has moved on (recover ran inside the read)
    assert(SnapshotTxn.latestTxn(spark, root) == 2)
    assert(SnapshotTxn.asOfTxn(spark, root, 2) === Map(a -> 3, b -> 3))
    assert(rows(SnapshotTxn.readAsOfTxn(spark, root, 2, a).orderBy("k"))
      .map(_.head) === Seq(1L, 2L, 3L))
    // a table never enrolled refuses (no version to pin)
    val c = tmp("graft-txqc")
    Snapshot.publishSnapshot(kv(1L -> "c1"), c)
    intercept[IllegalArgumentException] {
      SnapshotTxn.readAsOfTxn(spark, root, 2, c)
    }
    ()
  }

  test("vacuumTxnLog prunes finalized txns; unrecovered ones are protected; reads survive") {
    val root = tmp("graft-txv"); val a = tmp("graft-txva")
    Snapshot.publishSnapshot(kv(1L -> "a1"), a)
    (2 to 5).foreach { i =>
      val t = SnapshotTxn.begin(spark, root)
      t.stageAppend(kv(i.toLong -> s"a$i"), a); t.commit()
    }
    val t5 = SnapshotTxn.begin(spark, root)
    t5.stageAppend(kv(9L -> "a9"), a)
    t5.commitNoFinalize() // txn 5: committed, NOT yet recovered
    // keepFrom past the unrecovered txn is CAPPED at recovered+1: txn 5
    // keeps the manifest its roll-forward needs
    assert(SnapshotTxn.recoveredThrough(spark, root) == 4)
    assert(SnapshotTxn.vacuumTxnLog(spark, root, keepFrom = 99) == 4)
    assert(SnapshotTxn.latestTxn(spark, root) == 5)
    // recovery still rolls txn 5 forward over the pruned prefix
    assert(rows(SnapshotTxn.readLatest(spark, root, a).orderBy("k"))
      .map(_.head) === Seq(1L, 2L, 3L, 4L, 5L, 9L))
    // asOfTxn refuses pruned ids loudly, resolves kept ones
    intercept[IllegalArgumentException] {
      SnapshotTxn.asOfTxn(spark, root, 3)
    }
    assert(SnapshotTxn.asOfTxn(spark, root, 5, sinceTxn = 4) ===
      Map(a -> 6))
    // a fresh driver on the pruned log (marker lost) still finds the
    // head by listing — commit and read keep working
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(s"$root/manifest/recovered"),
      false)
    val t6 = SnapshotTxn.begin(spark, root)
    t6.stageAppend(kv(10L -> "aX"), a); t6.commit()
    assert(SnapshotTxn.latestTxn(spark, root) == 6)
    assert(SnapshotTxn.readLatest(spark, root, a).count() == 7)
    ()
  }

  test("guarded marker advance: a commit landing ABOVE an unfinalized txn never buries it") {
    // The interleaving the guard exists for: T1 publishes txn 2 at the
    // commit point and dies before finalizing (commitNoFinalize); T2 —
    // whose entry recover ran BEFORE T1's commit (commitNoEntryRecover
    // simulates exactly that) — takes slot 3, finalizes only its own
    // tables, and must leave the marker BEHIND txn 2 (an unconditional
    // advance would bury txn 2 below the marker forever: recover never
    // rescans below it, readLatest would silently miss A's txn-2 rows).
    val root = tmp("graft-txg"); val a = tmp("graft-txga")
    val b = tmp("graft-txgb")
    Snapshot.publishSnapshot(kv(1L -> "a1"), a)
    Snapshot.publishSnapshot(kv(1L -> "b1"), b)
    val t1 = SnapshotTxn.begin(spark, root)
    t1.stageAppend(kv(2L -> "a2"), a); t1.commit()
    assert(SnapshotTxn.recoveredThrough(spark, root) == 1)
    val t2 = SnapshotTxn.begin(spark, root)
    t2.stageAppend(kv(3L -> "a3"), a)
    t2.commitNoFinalize() // T1: died right after the commit point
    val t3 = SnapshotTxn.begin(spark, root)
    t3.stageAppend(kv(2L -> "b2"), b) // disjoint table: no base conflict
    t3.commitNoEntryRecover() // T2: recover predates T1's commit
    // T2's own txn finalized, but the marker did NOT leap past txn 2
    assert(Snapshot.latestVersion(spark, b) == 2)
    assert(SnapshotTxn.recoveredThrough(spark, root) == 1,
      "marker advanced past a committed-but-unfinalized txn")
    // the next recovery rescans from the marker and rolls txn 2 forward
    assert(rows(SnapshotTxn.readLatest(spark, root, a).orderBy("k"))
      .map(_.head) === Seq(1L, 2L, 3L))
    assert(SnapshotTxn.recoveredThrough(spark, root) == 3)
    // and the pinned snapshots see every txn
    assert(SnapshotTxn.asOfTxn(spark, root, 3) === Map(a -> 3, b -> 2))
    ()
  }

  test("txnAsOfTime: a timestamp pins one consistent txn id for cross-table reads") {
    val root = tmp("graft-txts"); val a = tmp("graft-txtsa")
    val b = tmp("graft-txtsb")
    Snapshot.publishSnapshot(kv(1L -> "a1"), a)
    Snapshot.publishSnapshot(kv(1L -> "b1"), b)
    val before = System.currentTimeMillis() - 1
    val t1 = SnapshotTxn.begin(spark, root)
    t1.stageAppend(kv(2L -> "a2"), a); t1.stageAppend(kv(2L -> "b2"), b)
    t1.commit()
    // the commit point is the manifest publish: stamp the gap between
    // txn 1 and txn 2 by pinning txn 1's manifest mtime behind us
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sessionState.newHadoopConf())
    val mid = System.currentTimeMillis()
    fs.setTimes(new org.apache.hadoop.fs.Path(s"$root/manifest/v1.txt"),
      mid - 10000L, -1)
    val t2 = SnapshotTxn.begin(spark, root)
    t2.stageAppend(kv(3L -> "a3"), a); t2.stageAppend(kv(3L -> "b3"), b)
    t2.commit()
    fs.setTimes(new org.apache.hadoop.fs.Path(s"$root/manifest/v2.txt"),
      mid + 10000L, -1)
    // before any txn: no id to pin
    assert(SnapshotTxn.txnAsOfTime(spark, root, before - 1000000L).isEmpty)
    // between the commits: txn 1 — and BOTH tables read consistently
    val k = SnapshotTxn.txnAsOfTime(spark, root, mid).get
    assert(k == 1)
    assert(rows(SnapshotTxn.readAsOfTxn(spark, root, k, a).orderBy("k"))
      .map(_.head) === Seq(1L, 2L))
    assert(rows(SnapshotTxn.readAsOfTxn(spark, root, k, b).orderBy("k"))
      .map(_.head) === Seq(1L, 2L))
    // at/after the head: the newest txn
    assert(SnapshotTxn.txnAsOfTime(spark, root,
      mid + 20000L) === Some(2))
    ()
  }

  test("asOfTxn resolves retained txns over a pruned log via the vacuum fold snapshot") {
    val root = tmp("graft-txsn"); val a = tmp("graft-txsna")
    val b = tmp("graft-txsnb")
    Snapshot.publishSnapshot(kv(1L -> "a1"), a)
    Snapshot.publishSnapshot(kv(1L -> "b1"), b)
    // txn1: a→2, b→2; txn2: a→3; txn3: a→4, b→3; txn4: a→5; txn5: a→6
    (2 to 6).foreach { i =>
      val t = SnapshotTxn.begin(spark, root)
      t.stageAppend(kv(i.toLong -> s"a$i"), a)
      if (i == 2 || i == 4) t.stageAppend(kv(i.toLong -> s"b$i"), b)
      t.commit()
    }
    // prune txns 1..3; the fold snapshot snap_3 rides the vacuum
    assert(SnapshotTxn.vacuumTxnLog(spark, root, keepFrom = 4) == 3)
    // retained ids resolve WITHOUT any caller-side cache — including
    // table B, whose every enrollment (txns 1 and 3) lies in the
    // pruned prefix: its version comes wholly from the fold snapshot
    assert(SnapshotTxn.asOfTxn(spark, root, 4) === Map(a -> 5, b -> 3))
    assert(SnapshotTxn.asOfTxn(spark, root, 5) === Map(a -> 6, b -> 3))
    assert(rows(SnapshotTxn.readAsOfTxn(spark, root, 4, b).orderBy("k"))
      .map(_.head) === Seq(1L, 2L, 4L))
    // ids below the snapshot stay unresolvable, loudly
    intercept[IllegalArgumentException] {
      SnapshotTxn.asOfTxn(spark, root, 2)
    }
    // chained vacuums fold incrementally (the new snap subsumes the old)
    assert(SnapshotTxn.vacuumTxnLog(spark, root, keepFrom = 5) == 1)
    assert(SnapshotTxn.asOfTxn(spark, root, 5) === Map(a -> 6, b -> 3))
    // a RE-RUN at or below a previous boundary is a harmless no-op
    // (it used to refold the pruned prefix and throw)
    assert(SnapshotTxn.vacuumTxnLog(spark, root, keepFrom = 3) == 0)
    assert(SnapshotTxn.vacuumTxnLog(spark, root, keepFrom = 5) == 0)
    // a keepFrom past the head keeps the HEAD manifest (the streaming
    // replay tag's carrier): never a fully-empty listing — everything
    // below the head is already pruned here, so nothing else goes
    assert(SnapshotTxn.vacuumTxnLog(spark, root, keepFrom = 999) == 0)
    val rootFs = new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sessionState.newHadoopConf())
    assert(rootFs.exists(new org.apache.hadoop.fs.Path(
      s"$root/manifest/v5.txt")))
    assert(SnapshotTxn.latestTxn(spark, root) == 5)
    assert(SnapshotTxn.asOfTxn(spark, root, 5) === Map(a -> 6, b -> 3))
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sessionState.newHadoopConf())
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$root/manifest/snap_3.txt")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$root/manifest/snap_4.txt")))
    ()
  }

  test("recovered-through watermark: recover scans only past it; failures never advance it") {
    val root = tmp("graft-txw"); val a = tmp("graft-txwa")
    Snapshot.publishSnapshot(kv(1L -> "a1"), a)
    assert(SnapshotTxn.recoveredThrough(spark, root) == 0)
    val t1 = SnapshotTxn.begin(spark, root)
    t1.stageAppend(kv(2L -> "a2"), a); t1.commit()
    assert(SnapshotTxn.recoveredThrough(spark, root) == 1)
    val t2 = SnapshotTxn.begin(spark, root)
    t2.stageAppend(kv(3L -> "a3"), a); t2.commitNoFinalize()
    // not yet finalized -> watermark stays behind the head
    assert(SnapshotTxn.recoveredThrough(spark, root) == 1)
    assert(SnapshotTxn.recover(spark, root) == 1)
    assert(SnapshotTxn.recoveredThrough(spark, root) == 2)
    // a stolen slot fails loudly on EVERY recover and the watermark
    // never advances past the poisoned txn
    val t3 = SnapshotTxn.begin(spark, root)
    t3.stageAppend(kv(4L -> "a4"), a); t3.commitNoFinalize()
    Snapshot.appendSnapshot(kv(9L -> "a9"), a)
    intercept[IllegalStateException] { SnapshotTxn.recover(spark, root) }
    assert(SnapshotTxn.recoveredThrough(spark, root) == 2)
    intercept[IllegalStateException] { SnapshotTxn.recover(spark, root) }
    ()
  }

  test("recovered-through read racing a marker rewrite reads 0 or a written value, never throws") {
    // the marker is rewritten by delete-then-rename: a read landing in
    // between must see "no marker" (0), not a FileNotFoundException
    val root = tmp("graft-txrr")
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sessionState.newHadoopConf())
    val marker = s"$root/manifest/recovered"
    val rounds = 400
    Snapshot.writeFileAtomic(fs, marker, s"$root/manifest/.recovered_tmp", Seq("1"))
    val writer = new Thread(() =>
      (2 to rounds).foreach { k =>
        Snapshot.writeFileAtomic(fs, marker, s"$root/manifest/.recovered_tmp",
          Seq(k.toString))
      })
    writer.start()
    val seen = scala.collection.mutable.ArrayBuffer.empty[Int]
    while (writer.isAlive) seen += SnapshotTxn.recoveredThrough(spark, root)
    writer.join()
    seen += SnapshotTxn.recoveredThrough(spark, root)
    assert(seen.forall(v => v >= 0 && v <= rounds), seen.distinct.sorted)
    assert(seen.last == rounds)
  }

  test("txnAsOfTime under NON-monotone manifest times: the running max never leaps a later txn") {
    // The r14 ADVICE scenario: CAS-retried renames / multi-writer clock
    // skew can stamp txn k+1's manifest EARLIER than txn k's. A
    // newest-first "first mtime <= ts" probe would pin k+1 at a ts
    // between the stamps — a historical read whose fold contains a txn
    // that (by slot order) committed after ts. The running-max upward
    // scan refuses to admit it.
    val root = tmp("graft-txnm"); val a = tmp("graft-txnma")
    (1 to 3).foreach { i =>
      val t = SnapshotTxn.begin(spark, root)
      if (i == 1) t.stagePublish(kv(i.toLong -> s"a$i"), a)
      else t.stageAppend(kv(i.toLong -> s"a$i"), a)
      t.commit()
    }
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sessionState.newHadoopConf())
    def stamp(k: Int, ms: Long) = fs.setTimes(
      new org.apache.hadoop.fs.Path(s"$root/manifest/v$k.txt"), ms, -1)
    // txn 2 stamped AFTER txn 3 (the inversion): 1@100, 2@300, 3@200
    stamp(1, 100000L); stamp(2, 300000L); stamp(3, 200000L)
    // ts=250k: txn 3's stamp (200k) fits but txn 2's (300k) does not —
    // slot order says 3 committed after 2, so NOTHING past txn 1 is
    // provably "as of" 250k
    assert(SnapshotTxn.txnAsOfTime(spark, root, 250000L) === Some(1))
    // ts=350k admits everything; ts=150k only txn 1; ts=50k nothing
    assert(SnapshotTxn.txnAsOfTime(spark, root, 350000L) === Some(3))
    assert(SnapshotTxn.txnAsOfTime(spark, root, 150000L) === Some(1))
    assert(SnapshotTxn.txnAsOfTime(spark, root, 50000L).isEmpty)
    ()
  }

  test("two concurrent vacuums serialize under the log lock; chained prunes stay consistent") {
    val root = tmp("graft-tvv"); val a = tmp("graft-tvva")
    (1 to 8).foreach { i =>
      val t = SnapshotTxn.begin(spark, root)
      if (i == 1) t.stagePublish(kv(i.toLong -> s"a$i"), a)
      else t.stageAppend(kv(i.toLong -> s"a$i"), a)
      t.commit()
    }
    // two maintenance actors race the same prune window; the critical
    // section makes one fold-then-delete land entirely before the
    // other begins (the covered path sweeps stragglers, deletes
    // nothing twice, and never fails a fold mid-flight)
    import scala.collection.parallel.CollectionConverters._
    val results = (0 until 2).par.map { _ =>
      scala.util.Try(SnapshotTxn.vacuumTxnLog(spark, root, keepFrom = 7))
    }.seq
    assert(results.forall(_.isSuccess), results.toString)
    assert(results.map(_.get).sum == 6) // six manifests gone, once each
    // the log still answers: head intact, retained txns resolve, the
    // fold snapshot covers the pruned prefix
    assert(SnapshotTxn.latestTxn(spark, root) == 8)
    assert(SnapshotTxn.asOfTxn(spark, root, 7).values.max == 7)
    assert(rows(SnapshotTxn.readAsOfTxn(spark, root, 7, a)).length == 7)
    ()
  }

  test("writer fencing: a foreign driver's claim refuses commits and vacuum until explicit takeover") {
    val root = tmp("graft-twf"); val a = tmp("graft-twfa")
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sessionState.newHadoopConf())
    // virgin log: the first commit auto-claims epoch 1 for this JVM
    val t1 = SnapshotTxn.begin(spark, root)
    t1.stagePublish(kv(1L -> "a1"), a); t1.commit()
    assert(Snapshot.readTextLines(fs, s"$root/manifest/writer.txt")
      .head.startsWith("1\t"))
    // a SECOND commit under the held epoch flows
    val t2 = SnapshotTxn.begin(spark, root)
    t2.stageAppend(kv(2L -> "a2"), a); t2.commit()
    // another driver claims the log (simulated: the writer file now
    // carries an epoch/owner this JVM never held)
    Snapshot.writeFileAtomic(fs, s"$root/manifest/writer.txt",
      s"$root/manifest/.writer_tmp", Seq("7\tother-driver-jvm"))
    val t3 = SnapshotTxn.begin(spark, root)
    t3.stageAppend(kv(3L -> "a3"), a)
    val e = intercept[IllegalStateException] { t3.commit() }
    assert(e.getMessage.contains("claimWriter"))
    assert(Snapshot.latestVersion(spark, a) == 2) // nothing landed
    // maintenance is fenced the same way
    intercept[IllegalStateException] {
      SnapshotTxn.vacuumTxnLog(spark, root, 2)
    }
    // explicit takeover bumps the epoch; the SAME staged txn commits
    assert(SnapshotTxn.claimWriter(spark, root) == 8)
    t3.commit()
    assert(SnapshotTxn.latestTxn(spark, root) == 3)
    assert(Snapshot.latestVersion(spark, a) == 3)
    ()
  }

  test("safeKeepFrom derives the table-vacuum floor from the log; vacuumEnrolled refuses tighter") {
    val root = tmp("graft-tsk"); val a = tmp("graft-tska")
    val b = tmp("graft-tskb")
    val t1 = SnapshotTxn.begin(spark, root)
    t1.stagePublish(kv(1L -> "a1"), a); t1.stagePublish(kv(1L -> "b1"), b)
    t1.commit()
    val t2 = SnapshotTxn.begin(spark, root)
    t2.stageAppend(kv(2L -> "a2"), a); t2.commit()
    val t3 = SnapshotTxn.begin(spark, root)
    t3.stageAppend(kv(3L -> "a3"), a); t3.stageAppend(kv(2L -> "b2"), b)
    t3.commit()
    // never-pruned log: every txn resolvable, floor = version at txn 1
    assert(SnapshotTxn.safeKeepFrom(spark, root, a) == 1)
    // prune the log to txn 3: oldest resolvable txn becomes 2 (the fold
    // snapshot's id), so a's floor rises to its txn-2 version
    SnapshotTxn.vacuumTxnLog(spark, root, keepFrom = 3)
    assert(SnapshotTxn.safeKeepFrom(spark, root, a) == 2)
    assert(SnapshotTxn.safeKeepFrom(spark, root, b) == 1)
    // boundary vacuum succeeds and the oldest resolvable txn still reads
    assert(SnapshotTxn.vacuumEnrolled(spark, root, a) >= 0)
    assert(rows(SnapshotTxn.readAsOfTxn(spark, root, 2, a).orderBy("k"))
      .map(_.head) === Seq(1L, 2L))
    // one version tighter refuses LOUDLY instead of stranding the log
    val e = intercept[IllegalArgumentException] {
      SnapshotTxn.vacuumEnrolled(spark, root, a, keepFrom = 3)
    }
    assert(e.getMessage.contains("safe floor"))
    // a table never enrolled has no floor to derive
    intercept[IllegalArgumentException] {
      SnapshotTxn.safeKeepFrom(spark, root, tmp("graft-tskx"))
    }
    ()
  }

  test("stageFold: maintenance rides the txn — fold aborts with the txn on a base conflict") {
    val root = tmp("graft-tsf"); val a = tmp("graft-tsfa")
    val b = tmp("graft-tsfb")
    val t1 = SnapshotTxn.begin(spark, root)
    t1.stagePublish(kv(1L -> "a1", 2L -> "a2"), a)
    t1.stagePublish(kv(1L -> "b1"), b)
    t1.commit()
    val t2 = SnapshotTxn.begin(spark, root)
    t2.stageMerge(kv(1L -> "A1"), a, "k"); t2.commit()
    val t3 = SnapshotTxn.begin(spark, root)
    t3.stageDelete(kv(2L -> "x").select("k"), a, "k"); t3.commit()
    // fold staged, then the base advances before the commit point: the
    // WHOLE txn aborts (fold included) — maintenance never stacks on a
    // shape it didn't see
    val tf = SnapshotTxn.begin(spark, root)
    assert(tf.stageFold(a))
    tf.stageAppend(kv(9L -> "b9"), b)
    val t4 = SnapshotTxn.begin(spark, root)
    t4.stageMerge(kv(2L -> "A2x"), a, "k"); t4.commit()
    intercept[Snapshot.ConcurrentSnapshotUpdate] { tf.commit() }
    assert(Snapshot.latestVersion(spark, b) == 1) // append died with it
    // restaged against the fresh base, the fold commits and resolves
    val tf2 = SnapshotTxn.begin(spark, root)
    assert(tf2.stageFold(a))
    tf2.stageAppend(kv(9L -> "b9"), b)
    tf2.commit()
    assert(rows(SnapshotTxn.readLatest(spark, root, a).orderBy("k")) ===
      Seq(Seq(1L, "A1"), Seq(2L, "A2x")))
    assert(SnapshotTxn.readLatest(spark, root, b).count() == 2)
    // and the folded log stages nothing on the next fold
    val t5 = SnapshotTxn.begin(spark, root)
    assert(!t5.stageFold(a))
    t5.abort()
    ()
  }

  test("stageCompact: small-file packing rides the txn atomically with another table's write") {
    val root = tmp("graft-tsc"); val a = tmp("graft-tsca")
    val b = tmp("graft-tscb")
    val big = 1000000000L
    val t1 = SnapshotTxn.begin(spark, root)
    t1.stagePublish(kv(1L -> "a1"), a, statsCol = Some("k"))
    t1.stagePublish(kv(1L -> "b1"), b)
    t1.commit()
    val t2 = SnapshotTxn.begin(spark, root)
    t2.stageAppend(kv(2L -> "a2"), a); t2.commit()
    val t3 = SnapshotTxn.begin(spark, root)
    t3.stageAppend(kv(3L -> "a3"), a); t3.commit()
    val linesBefore = Snapshot.manifestLines(spark, a, 3).length
    // the maintenance txn: pack a's three small files + a dependent
    // write on b, atomically — and the committer dies before finalizing
    val tc = SnapshotTxn.begin(spark, root)
    assert(tc.stageCompact(a, minRows = big, targetRows = big))
    tc.stageAppend(kv(2L -> "b2"), b)
    tc.commitNoFinalize()
    assert(Snapshot.latestVersion(spark, a) == 3) // invisible pre-recovery
    assert(Snapshot.latestVersion(spark, b) == 1)
    SnapshotTxn.recover(spark, root)
    assert(Snapshot.latestVersion(spark, a) == 4)
    assert(Snapshot.latestVersion(spark, b) == 2)
    // rows identical, layout packed, stats carried on the packed files
    assert(rows(Snapshot.readSnapshot(spark, a, 4).orderBy("k")) ===
      Seq(Seq(1L, "a1"), Seq(2L, "a2"), Seq(3L, "a3")))
    assert(Snapshot.manifestLines(spark, a, 4).length < linesBefore)
    assert(Snapshot.filesForRange(spark, a, 4, 2L, 2L).nonEmpty)
    // a packed table (one file) is the no-op case
    val tn = SnapshotTxn.begin(spark, root)
    assert(!tn.stageCompact(a, minRows = big, targetRows = big))
    tn.abort()
    ()
  }

  test("stageReconcile: the CoW rewrite rides the txn; the table leaves it tombstone-free") {
    val root = tmp("graft-tsr"); val a = tmp("graft-tsra")
    val b = tmp("graft-tsrb")
    val t1 = SnapshotTxn.begin(spark, root)
    t1.stagePublish(kv(1L -> "a1", 2L -> "a2", 3L -> "a3", 4L -> "a4"), a,
      statsCol = Some("k"))
    t1.stagePublish(kv(1L -> "b1"), b)
    t1.commit()
    val t2 = SnapshotTxn.begin(spark, root)
    t2.stageMerge(kv(2L -> "A2"), a, "k"); t2.commit()
    val t3 = SnapshotTxn.begin(spark, root)
    t3.stageDelete(kv(3L -> "x").select("k"), a, "k"); t3.commit()
    // a transactional APPEND on the live MoR log refuses (tombstones)…
    val bad = SnapshotTxn.begin(spark, root)
    intercept[IllegalArgumentException] { bad.stageAppend(kv(9L -> "a9"), a) }
    bad.abort()
    // …so reconcile + the dependent write commit as ONE unit instead;
    // the committer dies at the worst point and recovery rolls both
    val tr = SnapshotTxn.begin(spark, root)
    assert(tr.stageReconcile(a))
    tr.stageAppend(kv(2L -> "b2"), b)
    tr.commitNoFinalize()
    assert(Snapshot.latestVersion(spark, a) == 3)
    assert(Snapshot.latestVersion(spark, b) == 1)
    SnapshotTxn.recover(spark, root)
    assert(Snapshot.latestVersion(spark, a) == 4)
    assert(Snapshot.latestVersion(spark, b) == 2)
    assert(rows(Snapshot.readSnapshot(spark, a, 4).orderBy("k")) ===
      Seq(Seq(1L, "a1"), Seq(2L, "A2"), Seq(4L, "a4")))
    // pure copy-on-write again: no tombstone lines, appends legal
    assert(!Snapshot.manifestLines(spark, a, 4).exists(_.startsWith("!")))
    val t4 = SnapshotTxn.begin(spark, root)
    t4.stageAppend(kv(9L -> "a9"), a); t4.commit()
    assert(SnapshotTxn.readLatest(spark, root, a).count() == 4)
    // a tombstone-free table is the no-op case
    val tn = SnapshotTxn.begin(spark, root)
    assert(!tn.stageReconcile(b))
    tn.abort()
    ()
  }

  test("bloom-indexed staged maintenance: compact keeps point-read pruning through the txn") {
    // The r15 parity gap: stageCompact refused bloom-indexed tables —
    // the table class that most wants compaction (hot point-read
    // tables). The indexed lane computes fresh per-file words for the
    // packed files at stage time; the #bloom header rides the pending
    // manifest through the commit point and the crash window.
    val root = tmp("graft-tbi"); val a = tmp("graft-tbia")
    val b = tmp("graft-tbib")
    val df = (1L to 100L).map(i => (s"key$i", i)).toDF("k", "n")
    Snapshot.publishSnapshotBloom(df.repartition(4), a, "k")
    val t0 = SnapshotTxn.begin(spark, root)
    t0.stagePublish(kv(1L -> "b1"), b); t0.commit()
    val tc = SnapshotTxn.begin(spark, root)
    assert(tc.stageCompact(a, minRows = 50L, targetRows = 50L))
    tc.stageAppend(kv(2L -> "b2"), b)
    tc.commitNoFinalize() // the committer dies at the worst point
    SnapshotTxn.recover(spark, root)
    val vA = Snapshot.latestVersion(spark, a)
    assert(vA == 2 && Snapshot.latestVersion(spark, b) == 2)
    // rows intact, layout packed 4 -> 2
    assert(Snapshot.readSnapshot(spark, a, vA).count() == 100)
    val linesA = Snapshot.manifestLines(spark, a, vA)
    assert(linesA.size == 2, linesA.mkString("\n"))
    // point-read pruning SURVIVED: the packed files carry fresh words
    assert(rows(Snapshot.readSnapshotPoint(spark, a, vA, "key7")) ===
      Seq(Seq("key7", 7L)))
    assert(Snapshot.filesForKey(spark, a, vA, "key7").size < linesA.size)
    ()
  }

  test("stats+bloom staged compact: BOTH headers and both prunings survive the txn (advice r16 #2)") {
    // A table published via publishSnapshotIndexed carries #stats AND
    // #bloom, and its file lines use the combined
    // `path\trows\tmn\tmx\twords` shape. stageCompact passes
    // statsCol = None, so the staged manifest's stats list must
    // INHERIT from the base (stage's carry-forward rule) or every
    // carried line stops matching admittingLines' shapes and silently
    // always admits — the degradation the r16 advice warned about.
    // Pin that both headers ride the pending manifest through the
    // commit point and that point AND range pruning still skip files.
    val root = tmp("graft-tsb"); val a = tmp("graft-tsba")
    val df = (1L to 100L).map(i => (s"key$i", i)).toDF("k", "n")
    // range-partitioned files so min/max stats are actually selective
    Snapshot.publishSnapshotIndexed(
      df.repartitionByRange(4, col("n")), a, Seq("n"), "k")
    val tc = SnapshotTxn.begin(spark, root)
    assert(tc.stageCompact(a, minRows = 50L, targetRows = 50L))
    tc.commit()
    val vA = Snapshot.latestVersion(spark, a)
    assert(vA == 2)
    val m = Snapshot.readManifest(spark, a, vA)
    assert(m.statsCols == Seq("n"), s"#stats dropped: ${m.statsCols}")
    assert(m.bloom.nonEmpty, "#bloom dropped")
    assert(Snapshot.readSnapshot(spark, a, vA).count() == 100)
    val linesA = Snapshot.manifestLines(spark, a, vA)
    // bloom point pruning: strictly fewer admitting files than lines
    assert(rows(Snapshot.readSnapshotPoint(spark, a, vA, "key7")) ===
      Seq(Seq("key7", 7L)))
    assert(Snapshot.filesForKey(spark, a, vA, "key7").size < linesA.size,
      s"bloom pruning lost after staged compact: all ${linesA.size} admit")
    // stats range pruning: a narrow range opens a strict subset
    assert(Snapshot.filesForRange(spark, a, vA, 3L, 4L).size < linesA.size,
      s"stats pruning lost after staged compact: all ${linesA.size} admit")
    assert(rows(Snapshot.readSnapshotRange(spark, a, vA, 3L, 4L)
      .orderBy("n")) === Seq(Seq("key3", 3L), Seq("key4", 4L)))
    ()
  }

  test("bloom-indexed staged maintenance: reconcile keeps point-read pruning through the txn") {
    val root = tmp("graft-tbr"); val b = tmp("graft-tbrb")
    val c = tmp("graft-tbrc")
    val t0 = SnapshotTxn.begin(spark, root)
    t0.stagePublish(kv(1L -> "b1"), b); t0.commit()
    val df = (1L to 100L).map(i => (s"k$i", i)).toDF("k", "n")
    Snapshot.publishSnapshotBloom(df.repartition(4), c, "k")
    // MoR life through the txn (indexed MoR commits keep their words)
    val tm = SnapshotTxn.begin(spark, root)
    tm.stageMerge(Seq(("k5", 500L)).toDF("k", "n"), c, "k"); tm.commit()
    val td = SnapshotTxn.begin(spark, root)
    td.stageDelete(Seq("k6").toDF("k"), c, "k"); td.commit()
    // txn-atomic reconcile + dependent write; die before finalizing
    val tr = SnapshotTxn.begin(spark, root)
    assert(tr.stageReconcile(c))
    tr.stageAppend(kv(2L -> "b2"), b)
    tr.commitNoFinalize()
    SnapshotTxn.recover(spark, root)
    val vC = Snapshot.latestVersion(spark, c)
    // pure copy-on-write again, content right
    assert(!Snapshot.manifestLines(spark, c, vC).exists(_.startsWith("!")))
    assert(Snapshot.readSnapshot(spark, c, vC).count() == 99)
    // ...and the index is ALIVE: upserted key found, deleted key gone,
    // admitting-file count pruned below the file count
    assert(rows(Snapshot.readSnapshotPoint(spark, c, vC, "k5")) ===
      Seq(Seq("k5", 500L)))
    assert(Snapshot.readSnapshotPoint(spark, c, vC, "k6").count() == 0)
    val linesC = Snapshot.manifestLines(spark, c, vC)
    assert(Snapshot.filesForKey(spark, c, vC, "k5").size < linesC.size,
      s"no pruning: ${linesC.size} files all admit")
    ()
  }

  test("bloom-indexed staged maintenance: fold keeps the index (morStage's words ride the txn)") {
    // stageFold never refused bloom (morStage computes per-file words
    // for the folded winners + delete-set); this pins it so all THREE
    // staged maintenance primitives carry the index-parity contract.
    val root = tmp("graft-tbf"); val b = tmp("graft-tbfb")
    val c = tmp("graft-tbfc")
    val t0 = SnapshotTxn.begin(spark, root)
    t0.stagePublish(kv(1L -> "b1"), b); t0.commit()
    val df = (1L to 100L).map(i => (s"k$i", i)).toDF("k", "n")
    Snapshot.publishSnapshotBloom(df.repartition(4), c, "k")
    val tm = SnapshotTxn.begin(spark, root)
    tm.stageMerge(Seq(("k5", 500L)).toDF("k", "n"), c, "k"); tm.commit()
    val tm2 = SnapshotTxn.begin(spark, root)
    tm2.stageMerge(Seq(("k9", 900L)).toDF("k", "n"), c, "k"); tm2.commit()
    val tf = SnapshotTxn.begin(spark, root)
    assert(tf.stageFold(c))
    tf.stageAppend(kv(2L -> "b2"), b)
    tf.commitNoFinalize()
    SnapshotTxn.recover(spark, root)
    val vC = Snapshot.latestVersion(spark, c)
    // one folded (winners, delete-set) generation, index alive: the
    // MoR-aware point read resolves through the fold (the table is
    // still merge-on-read, so filesForKey's CoW contract doesn't apply
    // — point READS are the index's consumer here)
    assert(rows(Snapshot.readSnapshotPoint(spark, c, vC, "k5")) ===
      Seq(Seq("k5", 500L)))
    assert(rows(Snapshot.readSnapshotPoint(spark, c, vC, "k9")) ===
      Seq(Seq("k9", 900L)))
    assert(Snapshot.readSnapshotPoint(spark, c, vC, "k999").count() == 0)
    // manifest-level survival: the #bloom header rides the staged fold
    // and EVERY line (winners + delete-set included) carries words
    val m = Snapshot.readManifest(spark, c, vC)
    assert(m.bloom.isDefined)
    assert(m.lines.forall(_.split("\t").length >= 3),
      m.lines.mkString("\n"))
    ()
  }
}
