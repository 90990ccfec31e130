package graft

import graft.merge.Versioned
import org.apache.spark.sql.functions._

/** VT23: multi-table atomic transactions — two-phase marker commit across
  * N versioned roots (catalog-level atomicity, the Iceberg/Nessie shape).
  */
class VersionedTxnSpec extends SparkSuite {

  test("one marker rename flips BOTH tables' staged versions visible atomically") {
    import spark.implicits._
    val base = tmpDir()
    val (a, b) = (base + "/a", base + "/b")
    Versioned.append(Seq((1L, "a1")).toDF("k", "v"), a)
    Versioned.append(Seq((10L, "b1")).toDF("k", "v"), b)
    val txn = Versioned.beginTransaction(base + "/_txns")
    Versioned.appendStaged(Seq((2L, "a2")).toDF("k", "v"), a, txn)
    Versioned.appendStaged(Seq((20L, "b2")).toDF("k", "v"), b, txn)
    // CRASH WINDOW (between stage and publish): every reader sees the
    // PRE-txn state of every table — no partial visibility
    assert(Versioned.read(spark, a).select("k").as[Long].collect().toSet === Set(1L))
    assert(Versioned.read(spark, b).select("k").as[Long].collect().toSet === Set(10L))
    // ...and normal writers refuse rather than build on unresolved state —
    // every write path, the schema/maintenance ops included (a FULL
    // manifest landing on top of an unresolved stage would silently drop
    // the txn's files when it commits)
    val e = intercept[IllegalStateException] {
      Versioned.append(Seq((99L, "x")).toDF("k", "v"), a)
    }
    assert(e.getMessage.contains("in-flight multi-table transaction"))
    intercept[IllegalStateException] { Versioned.rollback(b, 1) }
    intercept[IllegalStateException] { Versioned.evolve(a, "note STRING") }
    intercept[IllegalStateException] { Versioned.evolveRename(a, "v", "w") }
    intercept[IllegalStateException] { Versioned.compact(spark, a, 1) }
    intercept[IllegalStateException] {
      Versioned.overwrite(Seq((1L, "x")).toDF("k", "v"), a)
    }
    intercept[IllegalStateException] {
      Versioned.updateWhere(spark, a, lit(true), Map("v" -> lit("y")))
    }
    intercept[IllegalStateException] {
      Versioned.appendStaged(Seq((98L, "y")).toDF("k", "v"), a, txn)
    } // one staged version per table per txn
    // phase 2: ONE atomic rename publishes both
    Versioned.commitTransaction(txn)
    assert(Versioned.read(spark, a).select("k").as[Long].collect().toSet === Set(1L, 2L))
    assert(Versioned.read(spark, b).select("k").as[Long].collect().toSet === Set(10L, 20L))
    // idempotent republish; post-resolution writes land normally
    Versioned.commitTransaction(txn)
    Versioned.append(Seq((3L, "a3")).toDF("k", "v"), a)
    assert(Versioned.read(spark, a).count() === 3)
    // staging into a resolved txn refuses
    intercept[IllegalArgumentException] {
      Versioned.appendStaged(Seq((4L, "late")).toDF("k", "v"), a, txn)
    }
  }

  test("a staged append onto an empty table reads back once its txn commits") {
    val r = tmpDir() + "/t"
    val txn = Versioned.beginTransaction(tmpDir() + "/_txns")
    Versioned.appendStaged(spark.range(0, 10).toDF(), r, txn)
    assert(Versioned.read(spark, r).count() === 0, "pending: the empty state")
    Versioned.commitTransaction(txn)
    // the staged v1 is a delta with no checkpoint under it
    val cur = Versioned.currentVersion(r).get
    assert(cur.n === 1 && cur.pendingTxn.isEmpty && cur.files.nonEmpty)
    assert(Versioned.versions(r).map(_.files) === Seq(cur.files))
    assert(Versioned.read(spark, r).count() === 10)
    // later commits build on it
    Versioned.append(spark.range(10, 15).toDF(), r)
    assert(Versioned.read(spark, r).count() === 15)
  }

  test("abort makes staged versions no-ops forever; their files become reclaimable orphans") {
    import spark.implicits._
    val base = tmpDir()
    val (a, b) = (base + "/a", base + "/b")
    Versioned.append(Seq((1L, "a1")).toDF("k", "v"), a)
    Versioned.append(Seq((10L, "b1")).toDF("k", "v"), b)
    val txn = Versioned.beginTransaction(base + "/_txns")
    val staged = Versioned.appendStaged(Seq((2L, "dead")).toDF("k", "v"), a, txn)
    Versioned.appendStaged(Seq((20L, "dead")).toDF("k", "v"), b, txn)
    // while PENDING: gcOrphans must NOT reclaim the staged files (a late
    // commit would reference deleted data) even past the age gate
    assert(Versioned.gcOrphans(a, olderThanMs = 0L).isEmpty,
      "pending txn files are protected from gc")
    Versioned.abortTransaction(txn)
    // aborted: invisible now and at every later read; version number burnt
    assert(Versioned.read(spark, a).select("k").as[Long].collect().toSet === Set(1L))
    assert(Versioned.read(spark, b).select("k").as[Long].collect().toSet === Set(10L))
    assert(Versioned.currentVersion(a).get.n === staged.n, "the number is claimed")
    // normal writes land on top of the no-op version
    Versioned.append(Seq((3L, "a3")).toDF("k", "v"), a)
    assert(Versioned.read(spark, a).select("k").as[Long].collect().toSet === Set(1L, 3L))
    // the aborted files are orphans by design: reclaimed once aged
    val reclaimed = Versioned.gcOrphans(a, olderThanMs = 0L)
    assert(reclaimed.nonEmpty, "aborted txn files age out via gcOrphans")
    assert(Versioned.read(spark, a).count() === 2, "reclaim touches no live data")
    // abort-after-commit refuses
    val txn2 = Versioned.beginTransaction(base + "/_txns")
    Versioned.appendStaged(Seq((4L, "x")).toDF("k", "v"), a, txn2)
    Versioned.commitTransaction(txn2)
    intercept[IllegalArgumentException] { Versioned.abortTransaction(txn2) }
  }

  test("staged manifests stay deltas across checkpoint numbers; later checkpoints materialize the resolution") {
    import spark.implicits._
    val base = tmpDir()
    val a = base + "/a"
    // 9 commits, so the staged txn version lands ON the checkpoint number 10
    (1 to 9).foreach(i => Versioned.append(Seq((i.toLong, s"c$i")).toDF("k", "v"), a))
    val txn = Versioned.beginTransaction(base + "/_txns")
    val staged = Versioned.appendStaged(Seq((100L, "txn")).toDF("k", "v"), a, txn)
    assert(staged.n === 10, "the staged version claims the checkpoint number")
    assert(Versioned.read(spark, a).count() === 9, "pending: invisible")
    Versioned.commitTransaction(txn)
    assert(Versioned.read(spark, a).count() === 10)
    // a dozen more commits cross the NEXT checkpoint (v20 FULL materializes
    // the resolved state): reconstruction stays bounded and correct
    (11 to 22).foreach(i => Versioned.append(Seq((i.toLong, s"c$i")).toDF("k", "v"), a))
    assert(Versioned.read(spark, a).count() === 22)
    assert(Versioned.read(spark, a, Some(10)).count() === 10, "time travel onto the txn version")
    assert(Versioned.read(spark, a, Some(9)).count() === 9)
  }

  test("the streaming source waits at a pending txn version and streams its files after commit") {
    import spark.implicits._
    val base = tmpDir()
    val a = base + "/a"
    Versioned.append(Seq((1L, "a1")).toDF("k", "v"), a)
    val txn = Versioned.beginTransaction(base + "/_txns")
    Versioned.appendStaged(Seq((2L, "txn")).toDF("k", "v"), a, txn)
    def drain(tag: String): Seq[Long] = {
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      spark.readStream.format(classOf[graft.streaming.VersionedStreamSource].getName)
        .option("path", a).load()
        .writeStream
        .option("checkpointLocation", s"$base/ckpt_$tag")
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.select("k").as[Long].collect().foreach(seen.add); ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
      import scala.jdk.CollectionConverters._
      seen.iterator().asScala.toSeq.sorted
    }
    // pending: the stream drains v1 and STOPS BEFORE the staged version —
    // an offset past it would skip the txn's files when it commits
    assert(drain("pending") === Seq(1L))
    Versioned.commitTransaction(txn)
    // committed: a fresh drain serves the txn's files as a normal batch
    assert(drain("committed") === Seq(1L, 2L))
    // an ABORTED txn version on another table streams as an empty batch
    val b = base + "/b"
    Versioned.append(Seq((10L, "b1")).toDF("k", "v"), b)
    val txn2 = Versioned.beginTransaction(base + "/_txns")
    Versioned.appendStaged(Seq((20L, "dead")).toDF("k", "v"), b, txn2)
    Versioned.abortTransaction(txn2)
    val seenB = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    spark.readStream.format(classOf[graft.streaming.VersionedStreamSource].getName)
      .option("path", b).option("maxVersionsPerTrigger", "10").load()
      .writeStream
      .option("checkpointLocation", s"$base/ckpt_b")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.select("k").as[Long].collect().foreach(seenB.add); ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    import scala.jdk.CollectionConverters._
    assert(seenB.iterator().asScala.toSeq === Seq(10L),
      "aborted staged files never stream")
  }

  test("staged COW merge + delete: invisible while pending, atomic on publish, abortable, blast-radius bounded") {
    import spark.implicits._
    val base = tmpDir()
    val (a, b) = (base + "/a", base + "/b")
    Versioned.appendWithStats(
      (1L to 100L).map(k => (k, k * 1.0)).toDF("k", "price").repartitionByRange(4, col("k")),
      a, "k")
    Versioned.appendWithStats(
      (1L to 100L).map(k => (k, s"v$k")).toDF("k", "v").repartitionByRange(4, col("k")),
      b, "k")
    val preA = Versioned.currentVersion(a).get
    // txn: restate a fact window on A and delete the matching window on B
    val txn = Versioned.beginTransaction(base + "/_txns")
    val stagedA = Versioned.mergeIntoStaged(spark, a,
      Seq((5L, 500.0), (6L, 600.0)).toDF("k", "price"), Seq("k"), txn)
    Versioned.deleteWhereStaged(spark, b, col("k") <= 10L, txn)
    // blast radius holds even staged: only key-overlapping files delist
    assert((preA.files.toSet -- stagedA.files.toSet).size < preA.files.size)
    // pending: both tables serve the PRE-txn state (the merge's rewrites
    // and the delete's survivors are invisible)
    assert(Versioned.read(spark, a).filter(col("k") === 5L)
      .select("price").as[Double].head() === 5.0)
    assert(Versioned.read(spark, b).count() === 100)
    Versioned.commitTransaction(txn)
    // committed: merge and delete land TOGETHER
    assert(Versioned.read(spark, a).filter(col("k") === 5L)
      .select("price").as[Double].head() === 500.0)
    assert(Versioned.read(spark, a).count() === 100)
    assert(Versioned.read(spark, b).count() === 90)
    // pre-txn versions time-travel intact
    assert(Versioned.read(spark, a, Some(1)).filter(col("k") === 5L)
      .select("price").as[Double].head() === 5.0)
    // an ABORTED staged delete leaves the table untouched forever
    val txn2 = Versioned.beginTransaction(base + "/_txns")
    Versioned.deleteWhereStaged(spark, b, col("k") > 50L, txn2)
    Versioned.abortTransaction(txn2)
    assert(Versioned.read(spark, b).count() === 90)
    Versioned.append(Seq((200L, "x")).toDF("k", "v"), b) // writes land after resolution
    assert(Versioned.read(spark, b).count() === 91)
  }

  test("a constraint violation fails the STAGE, the caller aborts, nothing ever lands") {
    import spark.implicits._
    val base = tmpDir()
    val (a, b) = (base + "/a", base + "/b")
    Versioned.append(Seq((1L, 1.0)).toDF("k", "price"), a)
    Versioned.append(Seq((10L, 1.0)).toDF("k", "price"), b)
    Versioned.addConstraint(spark, b, "price_pos", "price > 0")
    val txn = Versioned.beginTransaction(base + "/_txns")
    Versioned.appendStaged(Seq((2L, 2.0)).toDF("k", "price"), a, txn)
    val e = intercept[IllegalArgumentException] {
      Versioned.appendStaged(Seq((20L, -1.0)).toDF("k", "price"), b, txn)
    }
    assert(e.getMessage.contains("price_pos"))
    Versioned.abortTransaction(txn) // the coordinator's only correct move
    assert(Versioned.read(spark, a).count() === 1)
    assert(Versioned.read(spark, b).count() === 1)
  }
}
