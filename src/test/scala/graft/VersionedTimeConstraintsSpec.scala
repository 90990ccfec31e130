package graft

import graft.merge.Versioned
import org.apache.spark.sql.functions._

/** VT19 (timestamp time travel + age-based retention) and VT20 (CHECK /
  * NOT NULL constraints in the schema contract).
  */
class VersionedTimeConstraintsSpec extends SparkSuite {

  private def root(): String = tmpDir() + "/t"

  // ---------------------------------------------------------------- vt19

  test("vt19: versionAtTimestamp resolves boundaries exactly (at / before / after)") {
    import spark.implicits._
    val r = root()
    Versioned.append(Seq((1L, "a")).toDF("k", "v"), r)
    Thread.sleep(15)
    Versioned.append(Seq((2L, "b")).toDF("k", "v"), r)
    Thread.sleep(15)
    Versioned.append(Seq((3L, "c")).toDF("k", "v"), r)
    val ts = Versioned.versions(r).map(_.ts)
    assert(ts.length === 3 && ts(0) < ts(1) && ts(1) < ts(2),
      s"15ms-spaced commits must have strictly increasing timestamps, got $ts")
    assert(Versioned.versionAtTimestamp(r, ts(0)) === 1) // exactly AT a commit
    assert(Versioned.versionAtTimestamp(r, ts(1) - 1) === 1) // 1ms before v2
    assert(Versioned.versionAtTimestamp(r, ts(1)) === 2)
    assert(Versioned.versionAtTimestamp(r, ts(2) + 1000000) === 3) // future = head
    // an instant before the first commit has no version to serve
    val e = intercept[IllegalArgumentException] {
      Versioned.versionAtTimestamp(r, ts(0) - 1)
    }
    assert(e.getMessage.contains("predates"))
    // the read form serves the resolved version's rows
    assert(Versioned.readAsOfTimestamp(spark, r, ts(1)).select("k")
      .as[Long].collect().toSet === Set(1L, 2L))
  }

  test("vt19: commit timestamps are monotonic and survive the delta/checkpoint fold") {
    import spark.implicits._
    val r = root()
    // 12 commits cross the checkpoint-interval boundary (v10 is FULL):
    // parsed-back timestamps must be each commit's own, nondecreasing
    (1 to 12).foreach(i => Versioned.append(Seq((i.toLong, s"c$i")).toDF("k", "v"), r))
    val ts = Versioned.versions(r).map(_.ts)
    assert(ts.forall(_ > 0), s"every commit records a timestamp, got $ts")
    assert(ts === ts.sorted, s"timestamps must be nondecreasing, got $ts")
    // history surfaces them (audit column)
    val h = Versioned.history(spark, r).select("version", "commit_ts").collect()
    assert(h.length === 12 && h.forall(!_.isNullAt(1)))
  }

  test("vt19: vacuumOlderThan expires by age, always keeps the head, and is testable via nowMs") {
    import spark.implicits._
    val r = root()
    Versioned.append(Seq((1L, "a")).toDF("k", "v"), r)
    Thread.sleep(15)
    Versioned.append(Seq((2L, "b")).toDF("k", "v"), r)
    Thread.sleep(15)
    Versioned.overwrite(Seq((3L, "c")).toDF("k", "v"), r)
    val ts = Versioned.versions(r).map(_.ts)
    // retention window covering only v3 (the overwrite): v1/v2's files —
    // referenced by no retained version — are reclaimed; v3's survive
    val now = ts(2) + 1000
    val (del1, _) = Versioned.vacuumOlderThan(r, olderThanMs = now - ts(2), nowMs = now)
    assert(del1.nonEmpty, "the pre-overwrite files age out")
    assert(Versioned.read(spark, r).select("k").as[Long].collect().toSeq === Seq(3L))
    intercept[Exception] { Versioned.read(spark, r, Some(1)).collect() } // data gone
    // a zero-width window (everything is 'too old') must STILL keep the head
    val (_, kept) = Versioned.vacuumOlderThan(r, olderThanMs = 0, nowMs = now + 1000000)
    assert(kept.nonEmpty, "the head version's files are always retained")
    assert(Versioned.read(spark, r).select("k").as[Long].collect().toSeq === Seq(3L))
  }

  test("vt19: rollback refuses a target whose data aged out under vacuumOlderThan") {
    import spark.implicits._
    val r = root()
    Versioned.append(Seq((1L, "a")).toDF("k", "v"), r)
    Thread.sleep(15)
    Versioned.overwrite(Seq((2L, "b")).toDF("k", "v"), r)
    val ts = Versioned.versions(r).map(_.ts)
    val now = ts(1) + 1000
    Versioned.vacuumOlderThan(r, olderThanMs = now - ts(1), nowMs = now)
    val e = intercept[IllegalArgumentException] { Versioned.rollback(r, 1) }
    assert(e.getMessage.contains("vacuumed"))
  }

  test("vt19: rollbackToTimestamp and changesBetweenTimestamps compose the probe") {
    import spark.implicits._
    val r = root()
    Versioned.append(Seq((1L, "a")).toDF("k", "v"), r)
    Thread.sleep(15)
    Versioned.append(Seq((2L, "b")).toDF("k", "v"), r)
    Thread.sleep(15)
    Versioned.append(Seq((3L, "c")).toDF("k", "v"), r)
    val ts = Versioned.versions(r).map(_.ts)
    // "what changed between v1's close and head": inserts 2 and 3
    val ch = Versioned.changesBetweenTimestamps(spark, r, ts(0), ts(2) + 1000)
    assert(ch.filter(col("change_type") === "insert").select("k")
      .as[Long].collect().toSet === Set(2L, 3L))
    assert(ch.filter(col("change_type") === "delete").count() === 0)
    // equal endpoints: empty change set
    assert(Versioned.changesBetweenTimestamps(spark, r, ts(1), ts(1)).count() === 0)
    // "undo everything since v1's commit instant"
    val v = Versioned.rollbackToTimestamp(r, ts(0))
    assert(v.op === "rollback" && v.parent === 1)
    assert(Versioned.read(spark, r).select("k").as[Long].collect().toSeq === Seq(1L))
  }

  // ---------------------------------------------------------------- vt16b

  test("vt16b: evolveDrop is metadata-only; old versions keep the column; appends check the shrunk contract") {
    import spark.implicits._
    val r = root()
    Versioned.append(Seq((1L, "a", 10.0)).toDF("k", "note", "price"), r)
    val before = Versioned.currentVersion(r).get.files
    val v = Versioned.evolveDrop(r, Seq("note"))
    assert(v.op === "evolve-drop" && v.files === before, "zero data files touched")
    assert(Versioned.read(spark, r).columns.toSeq === Seq("k", "price"))
    // time travel: v1 still reads the column
    assert(Versioned.read(spark, r, Some(1)).columns.contains("note"))
    // old-shape appends refuse; new-shape land
    intercept[IllegalArgumentException] {
      Versioned.append(Seq((2L, "b", 20.0)).toDF("k", "note", "price"), r)
    }
    Versioned.append(Seq((2L, 20.0)).toDF("k", "price"), r)
    assert(Versioned.read(spark, r).count() === 2)
    // guards: unknown column, last column, constraint reference
    intercept[IllegalArgumentException] { Versioned.evolveDrop(r, Seq("nope")) }
    intercept[IllegalArgumentException] { Versioned.evolveDrop(r, Seq("k", "price")) }
    Versioned.addConstraint(spark, r, "price_pos", "price > 0")
    val e = intercept[IllegalArgumentException] { Versioned.evolveDrop(r, Seq("price")) }
    assert(e.getMessage.contains("price_pos"))
  }

  test("vt16b: dropping a stats-TRACKED column re-aligns ranges; pruning on the survivor still plans subsets") {
    import spark.implicits._
    val r = root()
    Versioned.appendWithStats(
      (1L to 100L).map(k => (k, k * 7, s"v$k")).toDF("a", "b", "v")
        .repartitionByRange(4, col("a")), r, Seq("a", "b"))
    Versioned.evolveDrop(r, Seq("a"))
    val cur = Versioned.currentVersion(r).get
    assert(cur.statsCols === Seq("b"))
    // the surviving column's ranges are the ORIGINAL b-ranges (re-aligned,
    // not a's): a b-window read plans a strict subset
    val planned = Versioned.readWhere(spark, r, col("b") <= 7L * 20).inputFiles
    assert(planned.length < cur.files.length)
    assert(Versioned.readWhere(spark, r, col("b") <= 7L * 20).count() === 20)
  }

  test("vt20: addConstraint is admitted only when current data passes; violating appends refuse") {
    import spark.implicits._
    val r = root()
    Versioned.append(Seq((1L, 10.0), (2L, 20.0)).toDF("k", "price"), r)
    // admission check: current data violates → refused, log untouched
    val eAdd = intercept[IllegalArgumentException] {
      Versioned.addConstraint(spark, r, "price_big", "price > 15")
    }
    assert(eAdd.getMessage.contains("existing row"))
    assert(Versioned.versions(r).length === 1)
    // a passing constraint lands as a METADATA-ONLY commit (zero new files)
    val before = Versioned.currentVersion(r).get.files
    val v2 = Versioned.addConstraint(spark, r, "price_pos", "price > 0")
    assert(v2.op === "constrain" && v2.files === before, "constrain commits no data")
    assert(v2.constraints === Seq("price_pos" -> "price > 0"))
    // violating append: refused BEFORE any metadata lands; table unchanged
    val eApp = intercept[IllegalArgumentException] {
      Versioned.append(Seq((3L, -1.0)).toDF("k", "price"), r)
    }
    assert(eApp.getMessage.contains("price_pos") && eApp.getMessage.contains("refused"))
    assert(Versioned.currentVersion(r).get.n === 2)
    assert(Versioned.read(spark, r).count() === 2)
    // valid append still lands
    Versioned.append(Seq((3L, 5.0)).toDF("k", "price"), r)
    assert(Versioned.read(spark, r).count() === 3)
  }

  test("vt20: NULL passes CHECK (SQL semantics); NOT NULL is its own constraint") {
    import spark.implicits._
    val r = root()
    Versioned.append(Seq((1L, Some(10.0))).toDF("k", "price"), r)
    Versioned.addConstraint(spark, r, "price_pos", "price > 0")
    // a NULL price row passes the CHECK (unknown, not false)
    Versioned.append(Seq((2L, Option.empty[Double])).toDF("k", "price"), r)
    assert(Versioned.read(spark, r).count() === 2)
    // NOT NULL admission fails now (a NULL exists)...
    val e = intercept[IllegalArgumentException] {
      Versioned.addNotNull(spark, r, "price")
    }
    assert(e.getMessage.contains("violate"))
    // ...but on the key column it lands, and then rejects NULL keys
    Versioned.addNotNull(spark, r, "k")
    val e2 = intercept[IllegalArgumentException] {
      Versioned.append(Seq((Option.empty[Long], Some(1.0))).toDF("k", "price"), r)
    }
    assert(e2.getMessage.contains("nn_k"))
  }

  test("vt20: mergeInto validates the MERGE RESULT; a violating update refuses the commit") {
    import spark.implicits._
    val r = root()
    Versioned.appendWithStats(
      (1L to 10L).map(k => (k, 10.0)).toDF("k", "price").repartitionByRange(2, col("k")),
      r, "k")
    Versioned.addConstraint(spark, r, "price_pos", "price > 0")
    val e = intercept[IllegalArgumentException] {
      Versioned.mergeInto(spark, r, Seq((5L, -99.0)).toDF("k", "price"), Seq("k"))
    }
    assert(e.getMessage.contains("price_pos"))
    assert(Versioned.currentVersion(r).get.n === 2, "refused merge commits nothing")
    assert(Versioned.read(spark, r).filter(col("price") < 0).count() === 0)
    // a valid merge still lands and the constraint rides forward
    Versioned.mergeInto(spark, r, Seq((5L, 50.0)).toDF("k", "price"), Seq("k"))
    assert(Versioned.currentVersion(r).get.constraints.map(_._1) === Seq("price_pos"))
  }

  test("vt20: constraints survive the checkpoint fold and an archive cut") {
    import spark.implicits._
    val r = root()
    Versioned.append(Seq((1L, 1.0)).toDF("k", "price"), r)
    Versioned.addConstraint(spark, r, "price_pos", "price > 0")
    // push past a checkpoint boundary (v10 FULL) so the constraint must be
    // re-read from the checkpoint manifest, not the original delta
    (3 to 12).foreach(i => Versioned.append(Seq((i.toLong, i.toDouble)).toDF("k", "price"), r))
    assert(Versioned.currentVersion(r).get.constraints === Seq("price_pos" -> "price > 0"))
    Versioned.archiveManifests(r, keepLast = 3) // cut lands at the v10 checkpoint
    assert(Versioned.currentVersion(r).get.constraints === Seq("price_pos" -> "price > 0"))
    val e = intercept[IllegalArgumentException] {
      Versioned.append(Seq((99L, -1.0)).toDF("k", "price"), r)
    }
    assert(e.getMessage.contains("price_pos"))
  }

  test("vt20: overwrite drops constraints whose SQL no longer resolves, keeps and enforces the rest") {
    import spark.implicits._
    val r = root()
    Versioned.append(Seq((1L, 1.0, "x")).toDF("k", "price", "note"), r)
    Versioned.addConstraint(spark, r, "price_pos", "price > 0")
    Versioned.addConstraint(spark, r, "note_nonempty", "length(note) > 0")
    // the replacement schema drops `note`: its constraint falls out of the
    // contract (the stats-column stance); price_pos survives and validates
    Versioned.overwrite(Seq((2L, 5.0)).toDF("k", "price"), r)
    assert(Versioned.currentVersion(r).get.constraints === Seq("price_pos" -> "price > 0"))
    val e = intercept[IllegalArgumentException] {
      Versioned.overwrite(Seq((3L, -5.0)).toDF("k", "price"), r)
    }
    assert(e.getMessage.contains("price_pos"))
  }

  test("vt20: streaming appends and merges enforce constraints (st17/st18 write paths)") {
    import spark.implicits._
    val r = root()
    Versioned.append(Seq((1L, 10.0)).toDF("k", "price"), r)
    Versioned.addConstraint(spark, r, "price_pos", "price > 0")
    val e = intercept[IllegalArgumentException] {
      Versioned.appendStreamBatch(Seq((2L, -1.0)).toDF("k", "price"), r, batchId = 0L)
    }
    assert(e.getMessage.contains("price_pos"))
    // the refused batch id is NOT recorded: a corrected retry of the same
    // id must be able to land
    assert(Versioned.appendStreamBatch(Seq((2L, 2.0)).toDF("k", "price"), r, 0L).nonEmpty)
    val e2 = intercept[IllegalArgumentException] {
      Versioned.mergeStreamBatch(spark, r, Seq((1L, -9.0)).toDF("k", "price"),
        Seq("k"), batchId = 1L)
    }
    assert(e2.getMessage.contains("price_pos"))
    assert(Versioned.mergeStreamBatch(spark, r, Seq((1L, 9.0)).toDF("k", "price"),
      Seq("k"), 1L).nonEmpty)
  }

  test("vt20: dropConstraint is metadata-only and later writes stop validating") {
    import spark.implicits._
    val r = root()
    Versioned.append(Seq((1L, 1.0)).toDF("k", "price"), r)
    Versioned.addConstraint(spark, r, "price_pos", "price > 0")
    Versioned.addConstraint(spark, r, "k_pos", "k > 0")
    intercept[IllegalArgumentException] { Versioned.dropConstraint(r, "nope") }
    val before = Versioned.currentVersion(r).get.files
    val v = Versioned.dropConstraint(r, "price_pos")
    assert(v.op === "deconstrain" && v.files === before, "drop commits no data")
    assert(v.constraints === Seq("k_pos" -> "k > 0"))
    // the dropped rule no longer validates; the kept one still does
    Versioned.append(Seq((2L, -5.0)).toDF("k", "price"), r)
    val e = intercept[IllegalArgumentException] {
      Versioned.append(Seq((-3L, 1.0)).toDF("k", "price"), r)
    }
    assert(e.getMessage.contains("k_pos"))
    // history: the pre-drop version still records both constraints
    assert(Versioned.versions(r).find(_.n === 3).get.constraints.length === 2)
  }

  test("st17+: appendStreamBatch can carry skipping stats; replay still skips") {
    import spark.implicits._
    val r = root()
    Versioned.appendStreamBatch(
      (1L to 100L).map(k => (k, s"v$k")).toDF("k", "v").repartitionByRange(4, col("k")),
      r, batchId = 0L, statsCols = Seq("k"))
    Versioned.appendStreamBatch(
      (101L to 200L).map(k => (k, s"v$k")).toDF("k", "v").repartitionByRange(4, col("k")),
      r, 1L, Seq("k"))
    // the accreted files prune NOW, without waiting for a compact
    val cur = Versioned.currentVersion(r).get
    assert(cur.statsCols === Seq("k") && cur.stats.nonEmpty)
    val planned = Versioned.readWhere(spark, r, col("k") <= 20L).inputFiles
    assert(planned.length < cur.files.length, "stream-landed files must prune")
    // replayed id is still a no-op
    assert(Versioned.appendStreamBatch(
      Seq((999L, "x")).toDF("k", "v"), r, 0L, Seq("k")).isEmpty)
    assert(Versioned.read(spark, r).count() === 200L)
  }

  test("vt19: timestamp travel REFUSES a timestamp-less (pre-vt19) resolution instead of silently serving HEAD") {
    import spark.implicits._
    val r = root()
    Versioned.append(Seq((1L, "a")).toDF("k", "v"), r)
    Versioned.append(Seq((2L, "b")).toDF("k", "v"), r)
    // strip ts= from every manifest header — the pre-vt19 on-disk form
    val vlog = java.nio.file.Paths.get(r, "_vlog")
    java.nio.file.Files.list(vlog).forEach { p =>
      if (p.getFileName.toString.matches("v\\d+\\.txt")) {
        val lines = java.nio.file.Files.readAllLines(p)
        lines.set(0, lines.get(0).replaceAll(" ts=\\d+", ""))
        java.nio.file.Files.write(p, lines)
      }
    }
    assert(Versioned.versions(r).forall(_.ts < 0), "fixture must be timestamp-less")
    // on a fully legacy log ANY instant would resolve to HEAD —
    // rollbackToTimestamp("last week") as a silent no-op. Refuse loudly.
    val e = intercept[IllegalArgumentException] {
      Versioned.versionAtTimestamp(r, System.currentTimeMillis())
    }
    assert(e.getMessage.contains("no commit timestamp") &&
      e.getMessage.contains("version-count travel"))
    intercept[IllegalArgumentException] {
      Versioned.rollbackToTimestamp(r, System.currentTimeMillis())
    }
    assert(Versioned.currentVersion(r).get.n === 2, "the refused rollback commits nothing")
    // a MIXED log (legacy base, vt19 tail) still resolves instants that
    // land on timestamped versions
    Thread.sleep(15)
    Versioned.append(Seq((3L, "c")).toDF("k", "v"), r)
    val ts3 = Versioned.versions(r).last.ts
    assert(ts3 > 0 && Versioned.versionAtTimestamp(r, ts3) === 3)
    // …but an instant that falls into the timestamp-less segment refuses
    intercept[IllegalArgumentException] { Versioned.versionAtTimestamp(r, ts3 - 1) }
  }

  test("vt20: addConstraint on an EMPTY table still analyzes the SQL against the contract") {
    import spark.implicits._
    val r = root()
    // a zero-FILE version with a recorded contract (the create-table-then-
    // constrain-before-first-load shape): one empty commit
    Versioned.commitFiles(r, "append", Nil, Nil,
      Some(org.apache.spark.sql.types.StructType.fromDDL("k BIGINT, price DOUBLE").toDDL))
    assert(Versioned.currentVersion(r).get.files.isEmpty)
    // unresolvable SQL: refused AT ADD TIME, not on the first later write
    val e = intercept[IllegalArgumentException] {
      Versioned.addConstraint(spark, r, "bad", "no_such_col > 0")
    }
    assert(e.getMessage.contains("does not analyze"))
    assert(Versioned.currentVersion(r).get.constraints.isEmpty)
    // a well-formed constraint on the empty table lands and enforces
    Versioned.addConstraint(spark, r, "price_pos", "price > 0")
    intercept[IllegalArgumentException] {
      Versioned.append(Seq((2L, -1.0)).toDF("k", "price"), r)
    }
    Versioned.append(Seq((2L, 2.0)).toDF("k", "price"), r)
    assert(Versioned.read(spark, r).count() === 1)
  }

  test("vt20: the validation pass scans ONLY the constrained/tracked columns (column pruning)") {
    import spark.implicits._
    val r = root()
    // a WIDE table (6 columns) with a constraint naming one column: the
    // per-commit validation scan must decode that column, not the row
    val wide = (1L to 50L).map(k => (k, k * 1.0, s"a$k", s"b$k", s"c$k", s"d$k"))
      .toDF("k", "price", "a", "b", "c", "d")
    Versioned.append(wide, r)
    val files = Versioned.currentVersion(r).get.files.map(f => (f, -1L))
    def scanCols(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.requiredSchema.fieldNames.toSeq
      }.flatten.distinct
    // plain validation (no stats): one constrained column → one-column scan
    val vc = Versioned.constraintViolationCounts(spark, r,
      Seq("price_pos" -> "price > 0"), files, Versioned.currentVersion(r).get.schema)
    assert(scanCols(vc) === Seq("price"), s"got ${scanCols(vc)}")
    // fused stats+constraint pass: tracked column + constrained columns,
    // nothing else (input_file_name needs no data column)
    val sv = Versioned.statsValidationFrame(spark, r, files,
      Versioned.currentVersion(r).get.schema.get, statsCols = Seq("k"), constraints = Seq(
        "price_pos" -> "price > 0", "a_nonempty" -> "length(a) > 0"))
    assert(scanCols(sv).toSet === Set("k", "price", "a"), s"got ${scanCols(sv)}")
    // and the real write paths stay green under the same shapes
    Versioned.addConstraint(spark, r, "price_pos", "price > 0")
    Versioned.append(wide.withColumn("k", col("k") + 100), r)
    assert(Versioned.read(spark, r).count() === 100)
  }

  test("vt20: rollback restores the target's constraint set") {
    import spark.implicits._
    val r = root()
    Versioned.append(Seq((1L, 1.0)).toDF("k", "price"), r) // v1: unconstrained
    Versioned.addConstraint(spark, r, "price_pos", "price > 0") // v2
    Versioned.rollback(r, 1) // v3: back to the unconstrained state
    assert(Versioned.currentVersion(r).get.constraints.isEmpty)
    Versioned.append(Seq((2L, -1.0)).toDF("k", "price"), r) // legal again
    assert(Versioned.read(spark, r).count() === 2)
  }
}
