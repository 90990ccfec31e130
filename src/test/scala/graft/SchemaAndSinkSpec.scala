package graft

import graft.multimodal.Multimodal
import graft.schema.SchemaMapper
import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SchemaMapper (§1.2 type table), sink partitioning (S9), DDL-ish lifecycle
  * (S7/S8), and the multimodal decode batch shape.
  */
class SchemaAndSinkSpec extends SparkSuite {
  import spark.implicits._

  /** The multimodal map-side pin, r20 form (tree-anchored): media PAYLOADS
    * exist only from the synthesis `MapPartitions` node upward, and nothing
    * up there may shuffle — asserted on the plan TREE (no Exchange has a
    * MapPartitions descendant), so a future typed map added below the
    * synthesis cannot silently move a textual cut point (the r19 helper
    * cut at lastIndexOf("MapPartitions")). Below the payload, the id
    * projection is allowed exactly one KIND of exchange: the spread's
    * keyless ROUND-ROBIN repartition (Scan.spreadIfStarved — 8 bytes/row,
    * pre-payload; added r19 so the codec stages parallelize over
    * single-row-group scans). A keyed shuffle anywhere in these plans is a
    * regression the old relaxation could hide.
    */
  private def assertNoExchangeAbovePayload(plan0: org.apache.spark.sql.execution.SparkPlan): Unit = {
    def unwrap(p: org.apache.spark.sql.execution.SparkPlan) = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    val plan = unwrap(plan0)
    def isSynthesis(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
      p.nodeName.contains("MapPartitions")
    // the anchor must exist, or the pin is vacuously green
    assert(plan.collectFirst { case m if isSynthesis(m) => m }.nonEmpty,
      s"no payload-synthesis MapPartitions node found — pin matched nothing:\n$plan")
    val above = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.Exchange
        if e.collectFirst { case m if isSynthesis(m) => m }.nonEmpty => e
    }
    assert(above.isEmpty,
      s"payload-carrying synthesis sits below an Exchange:\n$plan")
    val keyed = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
        if !e.outputPartitioning
          .isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning] => e
    }
    assert(keyed.isEmpty,
      s"keyed shuffle in a map-side multimodal plan (only the round-robin spread is allowed):\n$plan")
  }

  test("Snowflake type names map per the reference table, parametrized types truncate") {
    assert(SchemaMapper.sparkType("VARCHAR(255)") == StringType)
    assert(SchemaMapper.sparkType("NUMBER(38,0)") == DecimalType(38, 9))
    assert(SchemaMapper.sparkType("text") == StringType)
    assert(SchemaMapper.sparkType("INT") == LongType)
    assert(SchemaMapper.sparkType("FLOAT") == DoubleType)
    assert(SchemaMapper.sparkType("BOOLEAN") == BooleanType)
    assert(SchemaMapper.sparkType("DATE") == DateType)
    assert(SchemaMapper.sparkType("TIMESTAMP_NTZ") == TimestampNTZType)
    assert(SchemaMapper.sparkType("TIMESTAMP_TZ") == TimestampType)
    assert(SchemaMapper.sparkType("GEOGRAPHY") == StringType) // unknown → STRING
  }

  test("introspect returns (column_name, data_type, ordinal) like information_schema") {
    val out = SchemaMapper.introspect(spark, "/root/testdata/sf0.001/nation.parquet")
      .as[(String, String, Long, Boolean)].collect()
    assert(out.map(_._1).toSeq == Seq("n_nationkey", "n_name", "n_regionkey"))
    assert(out.map(_._3).toSeq == Seq(1L, 2L, 3L))
  }

  test("castTo coerces ISO-string transport columns into the declared schema") {
    val raw = Seq(("2024-01-02", "12.50", "7")).toDF("d", "amt", "n")
    val schema = StructType(Seq(
      StructField("d", DateType), StructField("amt", DecimalType(18, 2)),
      StructField("n", LongType)))
    val out = SchemaMapper.castTo(raw, schema)
    assert(out.schema == schema)
    val r = out.head()
    assert(r.getDate(0).toString == "2024-01-02" && r.getLong(2) == 7L)
  }

  test("S9: date-partitioned sink prunes partitions on read") {
    val path = tmpDir() + "/partitioned"
    val li = sf("lineitem").withColumn("ship_date", col("l_shipdate").cast("date"))
    li.write.partitionBy("ship_date").parquet(path)
    val pruned = spark.read.parquet(path).filter(col("ship_date") === lit("1996-03-13").cast("date"))
    val plan = pruned.queryExecution.executedPlan.toString
    // partition filter must appear as a partition filter, not a data filter
    assert(plan.contains("PartitionFilters") && plan.contains("ship_date"))
    assert(pruned.count() ==
      li.filter(col("ship_date") === lit("1996-03-13").cast("date")).count())
  }

  test("partition-scoped merge leaves untouched partitions byte-identical") {
    import graft.merge.{Dml, MergeInto}
    import java.sql.Date
    val path = tmpDir() + "/pmerge"
    val target = Seq(
      (1L, Date.valueOf("2024-01-01"), "a"),
      (2L, Date.valueOf("2024-01-02"), "b"),
      (3L, Date.valueOf("2024-01-03"), "c")).toDF("id", "d", "v")
    Dml.overwritePartitions(target, path, Seq("d"))
    def files(day: String): Set[(String, Long, Long)] =
      new java.io.File(s"$path/d=$day").listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.length, f.lastModified)).toSet
    val before01 = files("2024-01-01"); val before03 = files("2024-01-03")
    assert(before01.nonEmpty && before03.nonEmpty)

    // merge touches only the 2024-01-02 partition: one update + one insert
    val src = Seq(
      (2L, Date.valueOf("2024-01-02"), "b2"),
      (9L, Date.valueOf("2024-01-02"), "i")).toDF("id", "d", "v")
    MergeInto.mergePartitioned(spark, path, src, Seq("id", "d"), "d")

    // untouched partition directories: same file names, sizes, mtimes
    assert(files("2024-01-01") == before01 && files("2024-01-03") == before03)
    val out = spark.read.parquet(path)
    assert(out.count() == 4)
    assert(out.filter(col("id") === 2L).select("v").as[String].head() == "b2")
    assert(out.filter(col("d") === lit("2024-01-01").cast("date")).count() == 1)
  }

  test("partition-scoped merge detects an unpartitioned legacy target and converts it") {
    import graft.merge.MergeInto
    import java.sql.Date
    // legacy layout: written UNPARTITIONED (root-level parquet files)
    val target = Seq(
      (1L, Date.valueOf("2024-01-01"), "a"),
      (2L, Date.valueOf("2024-01-02"), "b"),
      (3L, Date.valueOf("2024-01-03"), "c")).toDF("id", "d", "v")
    val src = Seq(
      (2L, Date.valueOf("2024-01-02"), "b2"),
      (9L, Date.valueOf("2024-01-02"), "i")).toDF("id", "d", "v")
    // the legacy target intact, or as a crash between the two renames of its
    // swap left it: parked at .__old__ beside a partial .__tmp__, with nothing
    // at the target path — the retry must merge into the old table, not
    // write the increment alone and then delete the only full copy
    Seq(false, true).foreach { crashed =>
      val path = tmpDir() + "/pmerge_legacy"
      if (crashed) {
        target.write.parquet(path + ".__old__")
        src.limit(1).write.parquet(path + ".__tmp__")
      } else target.write.parquet(path)
      // dynamic overwrite on this layout would leave the root files in place
      // and double-count rows 1–3; the layout guard must full-rewrite instead
      MergeInto.mergePartitioned(spark, path, src, Seq("id", "d"), "d")
      val out = spark.read.parquet(path)
      assert(out.count() == 4, s"crashed=$crashed")
      assert(out.filter(col("id") === 2L).select("v").as[String].head() == "b2")
      // and the target is now in partitioned layout, so the next merge prunes
      assert(new java.io.File(s"$path/d=2024-01-01").isDirectory)
      assert(!new java.io.File(path).listFiles().exists(f =>
        f.isFile && f.getName.endsWith(".parquet")))
      assert(!new java.io.File(path + ".__old__").exists &&
        !new java.io.File(path + ".__tmp__").exists)
    }
  }

  test("S7/S8: temp-view staging lifecycle + create-if-not-exists semantics") {
    val df = sf("region")
    df.createOrReplaceTempView("staging_region")
    assert(spark.catalog.tableExists("staging_region"))
    assert(spark.sql("SELECT COUNT(*) c FROM staging_region").as[Long].head() == df.count())
    spark.catalog.dropTempView("staging_region")
    assert(!spark.catalog.tableExists("staging_region"))
  }

  test("audio codec: real WAV bytes round-trip through javax.sound.sampled") {
    val docs = sf("documents")
    val audio = Multimodal.audioTable(spark, docs)
    // payloads are genuine RIFF/WAVE containers
    audio.limit(5).collect().foreach { r =>
      assert(new String(r.payload.take(4), "US-ASCII") == "RIFF")
      assert(new String(r.payload.slice(8, 12), "US-ASCII") == "WAVE")
      assert(r.n_bytes >= 44 + 2 * 256) // header + at least the minimum samples
    }
    // decode recovers every generator formula from the bytes alone — the
    // planted peak requires actually reading the PCM data chunk
    val dec = Multimodal.decodeAudio(spark, audio).toDF()
    assert(dec.filter(col("sample_rate") =!=
      (lit(8000) + pmod(col("doc_id"), lit(8)).cast("int") * 1000)).count() == 0)
    assert(dec.filter(col("channels") =!= 1 || col("bits_per_sample") =!= 16).count() == 0)
    assert(dec.filter(col("n_samples") =!=
      (lit(256) + pmod(col("doc_id"), lit(128)) * 16)).count() == 0)
    assert(dec.filter(col("peak_abs") =!=
      (lit(20000) + pmod(col("doc_id"), lit(10000)).cast("int"))).count() == 0)
    // duration: integer milliseconds from (samples, rate)
    assert(dec.filter(col("duration_ms") =!=
      floor(col("n_samples") * 1000 / col("sample_rate"))).count() == 0)
    // decode is map-side above the payload: no Exchange once bytes exist
    assertNoExchangeAbovePayload(dec.queryExecution.executedPlan)
  }

  test("mm7 audio fingerprint: copies collide, distinct envelopes don't, hand-computed fp matches") {
    import spark.implicits._
    val docs = sf("documents").limit(60)
    val audio = Multimodal.audioTable(spark, docs)
    val copies = audio.filter(_.doc_id % 9 == 0).map(r => r.copy(doc_id = r.doc_id + 600000))
    val fp = Multimodal.audioFingerprint(spark, audio.union(copies)).toDF().cache()
    val byId = fp.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every planted copy shares its source's fingerprint
    byId.keys.filter(_ >= 600000L).foreach { id =>
      assert(byId(id) === byId(id - 600000L), s"copy $id diverged from source")
    }
    // the envelope discriminates: not all originals share one fp
    assert(byId.filter(_._1 < 600000L).values.toSet.size > 1)
    // hand-computed replay of one doc's fingerprint from the generator formulas
    val id = 7L
    val n = 256 + (id % 128).toInt * 16
    val vs = (0 until n).map(i =>
      if (i == 0) (20000 + id % 10000).toInt
      else math.abs((((id * 131 + i * 17) % 16384) - 8192).toInt))
    val ws = new Array[Long](16); val wc = new Array[Long](16); var ts = 0L
    vs.zipWithIndex.foreach { case (v, i) =>
      val w = (i.toLong * 16 / n).toInt; ws(w) += v; wc(w) += 1; ts += v
    }
    val expected = (0 until 16).map(j => if (ws(j) * n > ts * wc(j)) 1L << j else 0L).sum
    assert(byId(id) === expected)
    // the fingerprint pass is map-side: no Exchange (asserted on the
    // un-limited input — the test's own limit(60) would add a GlobalLimit
    // exchange that has nothing to do with the operator)
    assertNoExchangeAbovePayload(Multimodal.audioFingerprint(spark,
        Multimodal.audioTable(spark, sf("documents"))).toDF()
      .queryExecution.executedPlan)
    // a WAV that isn't 16-bit mono must refuse loudly, not fingerprint
    // garbage (the sample loop reads getShort per mono sample)
    locally {
      import spark.implicits._
      val n = 64; val dataLen = n * 2 * 2 // stereo 16-bit
      val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
        .put("WAVE".getBytes("US-ASCII")).put("fmt ".getBytes("US-ASCII"))
        .putInt(16).putShort(1).putShort(2) // PCM, 2 channels
        .putInt(8000).putInt(8000 * 2 * 2).putShort(4).putShort(16)
        .put("data".getBytes("US-ASCII")).putInt(dataLen)
      (0 until n * 2).foreach(i => bb.putShort((i * 37 % 8192).toShort))
      val stereo = spark.createDataset(Seq(
        Multimodal.AudioRecord(1L, bb.array(), bb.array().length.toLong)))
      val err = intercept[org.apache.spark.SparkException] {
        Multimodal.audioFingerprint(spark, stereo).collect()
      }
      assert(err.getCause != null &&
        err.getCause.getMessage.contains("16-bit mono"))
    }
    fp.unpersist()
  }

  test("video demux: container index walked for real, sampled frames decoded") {
    val docs = sf("documents")
    val videos = Multimodal.videoTable(spark, docs)
    videos.limit(3).collect().foreach { r =>
      assert(new String(r.payload.take(4), "US-ASCII") == "GFV1")
    }
    // probe: header count matches the walk, trailing bytes rejected
    val probe = Multimodal.probeVideo(spark, videos).toDF()
    assert(probe.filter(col("n_frames") =!=
      (lit(2) + pmod(col("doc_id"), lit(5)).cast("int"))).count() == 0)
    // sampling: min(k, n) rows per doc, frame_index evenly spaced, dims from
    // the per-frame formula (so each sampled frame really was PNG-decoded)
    val frames = Multimodal.frameSample(spark, videos, k = 4).toDF()
    assert(frames.groupBy("doc_id").count()
      .join(probe, "doc_id")
      .filter(col("count") =!= least(col("n_frames"), lit(4))).count() == 0)
    assert(frames.filter(col("width") =!=
      (lit(4) + pmod(col("doc_id") + col("frame_index"), lit(8)).cast("int"))).count() == 0)
    assert(frames.filter(col("height") =!=
      (lit(4) + pmod(col("doc_id") + col("frame_index"), lit(6)).cast("int"))).count() == 0)
    // a 6-frame video sampled at k=4 must skip frames (indices 0,1,3,4)
    val six = frames.join(probe.filter(col("n_frames") === 6), "doc_id")
    if (six.count() > 0)
      assert(six.groupBy("doc_id").agg(collect_set("frame_index").as("idxs"))
        .filter(!array_contains(col("idxs"), 0) || !array_contains(col("idxs"), 4))
        .count() == 0)
    // fan-out is map-side above the payload: no Exchange once bytes exist
    assertNoExchangeAbovePayload(frames.queryExecution.executedPlan)
    // corrupted magic is rejected, not silently mis-parsed
    import spark.implicits._
    val bad = Seq(Multimodal.VideoRecord(1L, "NOPE".getBytes("US-ASCII") ++
      Array.fill[Byte](8)(0), 12L)).toDS()
    val ex = intercept[org.apache.spark.SparkException] {
      Multimodal.frameSample(spark, bad).collect()
    }
    assert(ex.getMessage.contains("magic") ||
      Option(ex.getCause).exists(_.getMessage.contains("magic")))
  }

  test("image codec: real PNG bytes round-trip through ImageIO decode and resize") {
    val imgs = Multimodal.imageTable(spark, sf("documents"))
    // payloads are genuine PNGs: magic bytes \x89PNG
    val firstBytes = imgs.limit(5).collect()
    assert(firstBytes.nonEmpty)
    firstBytes.foreach { r =>
      assert((r.payload(0) & 0xff) == 0x89 && r.payload(1) == 'P' &&
        r.payload(2) == 'N' && r.payload(3) == 'G')
      assert(r.n_bytes > 50) // a real encoded image, not a 16-byte stub hash
    }
    // decode recovers the generator's dimensions from the bytes alone
    val dec = Multimodal.decodeImage(spark, imgs).toDF()
    assert(dec.filter(col("width") =!= (lit(8) + pmod(col("doc_id"), lit(16)))).count() == 0)
    assert(dec.filter(col("height") =!= (lit(8) + pmod(col("doc_id"), lit(12)))).count() == 0)
    assert(dec.filter(col("channels") =!= 3).count() == 0)
    // resize halves both dimensions and re-encodes a valid, smaller PNG
    val th = Multimodal.resizeImage(spark, imgs).toDF()
    assert(th.filter(col("thumb_width") =!= (col("width") / 2).cast("int")).count() == 0)
    assert(th.filter(col("thumb_height") =!= (col("height") / 2).cast("int")).count() == 0)
    val one = Multimodal.resizeImage(spark, imgs).head()
    val reDecoded = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(one.thumb))
    assert(reDecoded.getWidth == one.thumb_width && reDecoded.getHeight == one.thumb_height)
    // decode + resize are map-side above the payload in both plans
    assertNoExchangeAbovePayload(dec.queryExecution.executedPlan)
    assertNoExchangeAbovePayload(th.queryExecution.executedPlan)
  }

  test("mm5 aHash: byte-identical images collide, distinct images separate, map-side") {
    import spark.implicits._
    val imgs = Multimodal.imageTable(spark, sf("documents"))
    val copies = imgs.filter(_.doc_id % 6 == 0).map(r => r.copy(doc_id = r.doc_id + 500000))
    val hashed = Multimodal.imageAHash(spark, imgs.union(copies)).toDF().cache()
    // halves stay in unsigned-32 range (portability contract)
    assert(hashed.filter(col("ahash_hi") < 0 || col("ahash_hi") > 0xFFFFFFFFL
      || col("ahash_lo") < 0 || col("ahash_lo") > 0xFFFFFFFFL).isEmpty)
    // every planted copy hash-collides with its source
    val joined = hashed.join(
      hashed.select((col("doc_id") + 500000).as("doc_id"),
        col("ahash_hi").as("h2"), col("ahash_lo").as("l2")), Seq("doc_id"))
    assert(joined.count() > 0 &&
      joined.filter(col("ahash_hi") =!= col("h2") || col("ahash_lo") =!= col("l2")).isEmpty)
    // hashes genuinely discriminate: far more distinct hashes than collisions
    val n = hashed.count()
    val distinctHashes = hashed.select("ahash_hi", "ahash_lo").distinct().count()
    assert(distinctHashes > n / 2, s"$distinctHashes distinct hashes of $n images")
    // hashing is map-side above the payload: no Exchange once bytes exist
    assertNoExchangeAbovePayload(Multimodal.imageAHash(spark, imgs).queryExecution
      .executedPlan)
    hashed.unpersist()
  }

  test("multimodal stats: cross-codec aggregates are deterministic") {
    val stats = graft.SparkEntry.queries("mm2_media_stats")(spark, "/root/testdata/sf0.001")
    val rows = stats.collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rows.keySet == Set("image", "audio", "video"))
    val n = sf("documents").count()
    assert(rows.values.forall(_._1 == n))
    // every doc has ≥ 8×8 pixels, ≥ 256 samples, ≥ 2 frames
    assert(rows("image")._2 >= n * 64 && rows("audio")._2 >= n * 256 &&
      rows("video")._2 >= n * 2)
  }

  test("codec fixtures: WAV and frame container round-trip for arbitrary ids (property)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val genId = Gen.choose(0L, 5000000L)
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(40),
      Prop.forAll(genId) { id =>
        // WAV: the real codec recovers every generator formula, incl. the
        // planted peak that requires reading the PCM data chunk
        val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(Multimodal.wavBytes(id)))
        val fmt = in.getFormat
        val pcm = in.readAllBytes(); in.close()
        val bb = java.nio.ByteBuffer.wrap(pcm).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        var peak = 0
        while (bb.remaining() >= 2) peak = math.max(peak, math.abs(bb.getShort.toInt))
        val wavOk = fmt.getSampleRate.toInt == 8000 + (id % 8).toInt * 1000 &&
          fmt.getChannels == 1 && fmt.getSampleSizeInBits == 16 &&
          pcm.length / 2 == 256 + (id % 128).toInt * 16 &&
          peak == 20000 + (id % 10000).toInt
        // container: index walk lands exactly at end-of-payload, and every
        // frame ImageIO-decodes to its formula dimensions
        val payload = Multimodal.videoBytes(id)
        val cb = java.nio.ByteBuffer.wrap(payload)
        val magic = new Array[Byte](4); cb.get(magic)
        val fc = cb.getInt
        var framesOk = new String(magic, "US-ASCII") == "GFV1" && fc == 2 + (id % 5).toInt
        (0 until fc).foreach { f =>
          val len = cb.getInt
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(payload, cb.position(), len))
          framesOk &&= img.getWidth == 4 + ((id + f) % 8).toInt &&
            img.getHeight == 4 + ((id + f) % 6).toInt
          cb.position(cb.position() + len)
        }
        wavOk && framesOk && !cb.hasRemaining
      })
    assert(res.passed, res.status.toString)
  }

  test("events fixture: nanos timestamps surface as microsecond TIMESTAMP_NTZ") {
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    assert(ev.schema("ts").dataType == TimestampNTZType)
    assert(ev.select(min(col("ts")).cast("string")).head().getString(0).startsWith("2024-01-01"))
  }
}
