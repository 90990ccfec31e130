package graft

import graft.merge.Versioned
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.internal.io.FileNameSpec
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Every `Versioned` data file lands straight at its final path in its
  * commit directory, and the manifest lists only what committed tasks
  * reported: a failed write leaves the table as it was, stages nothing, and
  * what it left behind is reclaimable.
  */
class VersionedWriteSpec extends SparkSuite {

  private def names(dir: Path): Set[String] = {
    val s = Files.walk(dir)
    try s.iterator.asScala.filter(_ != dir).map(dir.relativize(_).toString).toSet
    finally s.close()
  }

  private def commitDirs(r: String, n: Int): Seq[Path] = {
    val s = Files.list(Paths.get(r, "data"))
    try s.iterator.asScala.filter(p => Files.isDirectory(p) &&
      p.getFileName.toString.startsWith(s"c$n-")).toSeq
    finally s.close()
  }

  test("a task that throws mid-write commits nothing and leaves no _temporary") {
    val r = tmpDir() + "/t"
    val v1 = Versioned.appendWithStats(spark.range(0, 400).toDF().repartition(4), r, Seq("id"))
    // a write lands its part files and their checksums, nothing else
    val d1 = commitDirs(r, 1)
    assert(d1.length === 1 && v1.files.length === 4)
    assert(names(d1.head) === v1.files.flatMap { f =>
      val name = Paths.get(f).getFileName.toString
      Seq(name, s".$name.crc")
    }.toSet)
    assert(v1.files.forall(f => Paths.get(f).getFileName.toString.matches(
      "part-0000[0-3]-[0-9a-f-]{36}-c000\\.snappy\\.parquet")))
    val before = Versioned.versions(r)
    val rows = Versioned.read(spark, r).collect().toSet
    // one of the four write tasks throws on one of its rows
    val bad = spark.range(400, 800).repartition(4)
      .select(when(col("id") === 555, raise_error(lit("injected fault")))
        .otherwise(col("id")).as("id"))
    val e = intercept[Exception](Versioned.appendWithStats(bad, r, Seq("id")))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("injected fault")))
    assert(Versioned.versions(r) === before, "no manifest written")
    assert(Versioned.read(spark, r).collect().toSet === rows)
    val d2 = commitDirs(r, 2)
    assert(d2.length === 1)
    assert(!names(d2.head).exists(_.contains("_temporary")))
    assert(Files.exists(Paths.get(d2.head.toString + ".inflight")), "the writer's marker stays")
    // once the marker has aged, the orphan sweep removes what the write left
    Thread.sleep(20)
    Versioned.gcOrphans(r, 0)
    assert(commitDirs(r, 2).isEmpty && !Files.exists(Paths.get(d2.head.toString + ".inflight")))
    assert(names(d1.head).size === 8)
    assert(Versioned.read(spark, r).collect().toSet === rows)
  }

  test("an aborted task attempt's file is deleted and never committed") {
    val dir = Paths.get(tmpDir(), "c1-x")
    Files.createDirectories(dir)
    val conf = spark.sparkContext.hadoopConfiguration
    val protocol = new Versioned.DirectCommit("job", dir.toString)
    val job = Job.getInstance(conf)
    protocol.setupJob(job)
    // each task runs its own deserialized copy of the job's protocol
    def attempt(owner: Versioned.DirectCommit,
        split: Int): (Versioned.DirectCommit, TaskAttemptContextImpl, String) = {
      val bytes = new java.io.ByteArrayOutputStream
      val out = new java.io.ObjectOutputStream(bytes)
      try out.writeObject(owner) finally out.close()
      val task = new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(
        bytes.toByteArray)).readObject().asInstanceOf[Versioned.DirectCommit]
      val ctx = new TaskAttemptContextImpl(conf,
        new TaskAttemptID("jt", 0, TaskType.MAP, split, 0))
      task.setupTask(ctx)
      val f = task.newTaskTempFile(ctx, None, FileNameSpec("", "-c000.snappy.parquet"))
      val p = new HPath(f)
      val file = p.getFileSystem(conf).create(p)
      try file.write(Array.fill[Byte](10 + split)(1)) finally file.close()
      (task, ctx, f)
    }
    val (t3, ctx3, f3) = attempt(protocol, 3)
    assert(Paths.get(f3).getFileName.toString === "part-00003-job-c000.snappy.parquet")
    assert(names(dir) === Set("part-00003-job-c000.snappy.parquet",
      ".part-00003-job-c000.snappy.parquet.crc"))
    val (t4, ctx4, f4) = attempt(protocol, 4)
    t3.abortTask(ctx3)
    assert(names(dir) === Set("part-00004-job-c000.snappy.parquet",
      ".part-00004-job-c000.snappy.parquet.crc"), "the aborted file and its checksum are gone")
    val msg = t4.commitTask(ctx4)
    protocol.onTaskCommit(msg)
    protocol.commitJob(job, Seq(msg))
    assert(protocol.committed === Seq(f4 -> 14L))
    // an aborted job deletes what its committed tasks wrote
    val failed = new Versioned.DirectCommit("failed", dir.toString)
    val (t5, ctx5, f5) = attempt(failed, 5)
    failed.onTaskCommit(t5.commitTask(ctx5))
    failed.abortJob(job)
    assert(!Files.exists(Paths.get(f5)) && Files.exists(Paths.get(f4)))
  }
}
