package graft

import graft.functions.RlePositions
import graft.merge.Versioned
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._

/** Round 19: compressed deletion-vector sidecars + fully executor-side DV
  * application on the DSv2 path. Pins (a) the RLE+varint codec, (b) that
  * PLANNING a DV-carrying DSv2 read never opens a sidecar or materializes a
  * victim position on the driver (partitions carry sidecar PATHS), and
  * (c) that pre-round-19 sidecars — raw (file, pos) rows — still read
  * through both the library scan and the DSv2 path.
  */
class DvCompressedSpec extends SparkSuite {
  import java.nio.file.Paths

  private def roundtrip(ps: Array[Long]): Array[Long] =
    RlePositions.decodeLongs(RlePositions.encode(new GenericArrayData(ps)))

  test("rle codec: empty, single, dense run, sparse, mixed, huge values roundtrip") {
    assert(roundtrip(Array.emptyLongArray) === Array.emptyLongArray)
    assert(roundtrip(Array(0L)) === Array(0L))
    assert(roundtrip(Array(7L)) === Array(7L))
    val dense = (1000L to 5000L).toArray
    assert(roundtrip(dense) === dense)
    val sparse = Array(3L, 17L, 1029L, 999999L, 12345678901L)
    assert(roundtrip(sparse) === sparse)
    val mixed = (Array(0L, 1L, 2L) ++ Array(50L) ++ (60L to 70L) ++ Array(Long.MaxValue - 1))
    assert(roundtrip(mixed) === mixed)
  }

  test("rle codec: dense runs compress far below 8 bytes/victim; unsorted input refuses") {
    val dense = (0L until 10000L).toArray
    val blob = RlePositions.encode(new GenericArrayData(dense))
    assert(blob.length < 10, s"a single 10k run must encode in a few bytes, got ${blob.length}")
    val sparse = Array.tabulate(1000)(i => i * 97L)
    val sblob = RlePositions.encode(new GenericArrayData(sparse))
    assert(sblob.length < 8 * sparse.length / 2,
      s"sparse positions must beat raw longs, got ${sblob.length} for ${sparse.length}")
    intercept[IllegalArgumentException] {
      RlePositions.encode(new GenericArrayData(Array(5L, 3L)))
    }
    intercept[IllegalArgumentException] {
      RlePositions.encode(new GenericArrayData(Array(4L, 4L)))
    }
  }

  private def mk(root: String, n: Long = 100L): Unit = {
    import spark.implicits._
    Versioned.appendWithStats(
      (1L to n).map(k => (k, k * 10.0, s"r$k")).toDF("k", "price", "tag")
        .repartitionByRange(4, col("k")), root, "k")
  }

  test("DSv2 planning never materializes victims: zero sidecar loads until execution") {
    import spark.implicits._
    val root = tmpDir() + "/t"
    mk(root)
    Versioned.deleteWhereDV(spark, root, col("k") % 10 === 0L)
    Versioned.deleteWhereDV(spark, root, col("k") === 7L)
    val before = Versioned.dvSidecarLoads.get()
    val df = spark.read.format(classOf[graft.streaming.VersionedStreamSource].getName)
      .option("path", root).load()
    // force full physical planning INCLUDING partition planning — the
    // plan path must stay metadata-only (sidecar paths, not positions)
    val parts = df.queryExecution.toRdd.partitions.length
    assert(parts > 0)
    assert(Versioned.dvSidecarLoads.get() === before,
      "planning a DV-carrying DSv2 read must not open a sidecar on the driver")
    // execution loads each planned DV-carrying partition's sidecars
    assert(df.select("k").as[Long].collect().sorted ===
      (1L to 100L).filterNot(k => k % 10 == 0 || k == 7).toArray)
    assert(Versioned.dvSidecarLoads.get() > before,
      "execution should have loaded sidecars executor-side")
  }

  test("compressed sidecar is one row per file and beats raw-longs bytes on a dense delete") {
    import spark.implicits._
    val root = tmpDir() + "/t"
    mk(root, 10000L)
    // dense contiguous victim range within one file
    val v2 = Versioned.deleteWhereDV(spark, root, col("k") > 9000L)
    val sidecars = v2.dvs.valuesIterator.flatten.map(_._1).toSeq.distinct
    assert(sidecars.size === 1)
    val scRows = spark.read.schema(Versioned.SidecarSchema)
      .parquet(Paths.get(root).resolve(sidecars.head).toString)
    // one (file, cnt, bits) row per attached file, no pos column payload
    assert(scRows.count() === v2.dvs.size.toLong)
    assert(scRows.where(col("pos").isNotNull).count() === 0L)
    val total = scRows.agg(sum("cnt")).head.getLong(0)
    assert(total === 1000L)
    val bitsBytes = scRows.select(octet_length(col("bits"))).as[Int].collect().sum
    assert(bitsBytes < 8 * 1000 / 10,
      s"a dense 1000-victim vector must compress well below 8 KB, got $bitsBytes B")
  }

  /** Rewrite `root`'s newest sidecar in place to the PRE-round-19 format —
    * one (file, pos) row per victim — byte-for-byte at the same manifest
    * path, then assert both read paths still serve it.
    */
  test("legacy (file,pos) sidecars still read: library path and DSv2 path") {
    import spark.implicits._
    val root = tmpDir() + "/t"
    mk(root)
    val v2 = Versioned.deleteWhereDV(spark, root, col("k") % 7 === 0L)
    val sidecar = v2.dvs.valuesIterator.flatten.map(_._1).toSeq.distinct.head
    toLegacySidecar(root, sidecar)
    val expect = (1L to 100L).filterNot(_ % 7 == 0).toArray
    assert(Versioned.read(spark, root).select("k").as[Long].collect().sorted === expect)
    assert(spark.read.format(classOf[graft.streaming.VersionedStreamSource].getName)
      .option("path", root).load()
      .select("k").as[Long].collect().sorted === expect)
  }
}
