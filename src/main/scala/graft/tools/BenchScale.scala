package graft.tools

import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-proof harness: measures the 6 headline composites at sf0.1 (1x) and
  * on a deterministic 10x corpus, committing the evidence that the plans the
  * repo audits as "scale-safe" actually scale ~linearly (BENCH_SCALE.json).
  *
  * The 10x corpus is 10 key-shifted copies of the sf0.1 fact tables
  * (`/root/testdata` is read-only, so it materializes under /tmp):
  *   - lineitem / orders: `l_orderkey`/`o_orderkey` shifted by copy*OFFSET —
  *     copies never join or group with each other, so distinct keys, groups
  *     and join fan-out all grow exactly 10x (a pure-duplication corpus would
  *     instead deepen every per-key group 10x and measure skew, not scale);
  *   - events: `event_id` shifted the same way (merge keys stay unique);
  *   - dims (customer/supplier/nation/region/part) copied 1x: dims grow
  *     sub-linearly in real warehouses and every headline plan broadcasts
  *     them, which is exactly what should stay constant at scale.
  *
  * Measurement mirrors Bench.scala's published policy: untimed warm-up per
  * query, then median-of-3, noop sink, cache/GC isolation between runs, same
  * session configs. Run with:
  *   SPARK_GRAFT_CPUS=32 sbt "runMain graft.tools.BenchScale"
  */
object BenchScale {

  private val headline = Seq("v_latest_snapshot", "v_corrected", "v4_work_item_tracking",
    "v5_individual_budget", "v5_fallback_budget", "st1_incremental_merge")

  /** LLM-pipeline queries whose scale behavior the plan audit claims —
    * measured on the replicated documents/embeddings corpus.
    */
  /** tx9/tx10: per-copy word suffixes keep gram matches within a copy, so
    * decontamination hits and boilerplate-header groups grow linearly (the
    * shared per-source headers dedup ACROSS copies — 10x-deeper groups, the
    * realistic boilerplate shape). j15: event_id shifts but user_id doesn't,
    * so the as-of window sees 10x-longer per-user histories — the realistic
    * growth axis for a time-series lookup.
    */
  /** ann4 vs ann7 is the curve's own A/B: ann4 blocks on the fixed `label`
    * column (per-block depth grows with the corpus → scored pairs grow
    * quadratically — measured 4.0 s @10x → 46.3 s @30x), ann7's learned
    * coarse quantizer grows nlist with the corpus so per-list depth (and
    * the pair count) stays bounded. The ann4 row OPTS IN via
    * `contrast = true`: since round 10 the default `Pq.ivfPqTopK` API
    * self-guards (average block depth > 256 reroutes through the learned
    * quantizer), so this measured quadratic exists only behind the explicit
    * contrast flag. dd8 rides the curve because the per-copy
    * word suffixes keep every k-token shingle within its copy, so the
    * duplicated-shingle set and the marked positions both grow exactly
    * linearly — the shape its plan audit claims.
    */
  /** ann8 rides the curve since round 11: Sq.sqTopK now self-guards like
    * ivfPqTopK (avg block depth > 256 reroutes SQ codes into learned
    * blocking), so at 10/30x — where the replicated corpus deepens
    * every label past the cap — the measured row IS the guard's reroute:
    * bounded per-list depth, code-sized shuffles, expected ~linear. The
    * reroute tiers (flat lists under the nlist clamp, the IMI past it), so
    * the 10x point measures the flat tier (20k vectors) and the 30x point
    * the IMI tier (60k > 32768). The fixed-block quadratic stays measured
    * once, by the ann4 contrast row, and is reachable only via
    * contrast = true.
    */
  /** x10 rides the curve: its claim is that the heavy-hitter shuffle is
    * bounded by the sketch (candidates), not the vocabulary — the
    * replicated corpus grows the vocabulary `copies`x (per-copy word
    * suffixes), so a vocabulary-shaped cost would grow with it while the
    * sketch-bounded path should track the linear scan cost.
    */
  /** sp7 rides the curve: its cost IS its dedup leg (dd2 pairs + dd6
    * components) plus a map-side split — measured warm at 9.3 s @10x /
    * 16.2 s @30x (ProfileOne, r11), i.e. tracking dd2+dd6's sum as the
    * design predicts. dd14 deliberately does NOT ride: its exact leg is
    * all-pairs in the SAMPLE by design — at larger corpora the sampling
    * fraction shrinks instead of the leg growing (see its registration).
    */
  /** dd13/st15 ride the curve as STEADY-STATE rows (round 12): both now
    * build their base signature index once per (corpus, process), so the
    * untimed warm-up pays the corpus-wide build and the median-of-3
    * measures what a running pipeline pays per batch — increment-sized
    * serves and folds (dd13: idempotent re-append + serve; st15: two
    * checkpointed micro-batch drains against the lineage-scoped index).
    */
  private val llm = Seq("dd2_minhash_lsh", "dd6_dup_groups", "dd8_substring_spans",
    "dd8h_spans_hashed", "dd10_semdedup", "dd11_incremental_dedup",
    "dd13_lsh_index_append", "st15_stream_neardup_ingest",
    "tx3b_bpe_tokens", "tx7b_ngram_repetition",
    "tx14_lm_score", "ann7_ivf_learned", "ann8_sq_topk",
    "ann10_imi_topk", "tx9_decontaminate", "tx10_line_dedup", "j15_asof_join",
    // tx22 joined round 13: BPE training touches the corpus once, then
    // iterates on a vocabulary-sized frame — the curve should flatten
    // toward the one-scan cost as copies grow (vocab is shared text,
    // so it BARELY grows with key-shifted copies)
    "x10_heavy_hitters", "sp7_leakage_safe_split", "tx22_bpe_train",
    // r20 (VERDICT r19 #3): the round's three biggest optimization claims
    // ride the curve so they are scale-MEASURED, not reasoned — dd15b's
    // O(batch) artifact-served group fold, ann6's shared-exact-leg recall,
    // dq7's split-aggregation profile drift
    "dd15b_groups_served", "ann6_recall", "dq7_schema_drift")

  /** Labeled CONTRAST rows (round 14): deliberate knee measurements that a
    * user's default path never hits — ann4's fixed-block quadratic exists
    * only behind `contrast = true` (the default API self-guards past it).
    * They used to ride the [[llm]] composite and distorted cross-round
    * reads (ann4 alone was 47 s of the 30x composite); now they are
    * measured on the same points but published under a separate
    * `contrasts` block, so leg composites track what the default path
    * costs. ann7's 100x flat-clamp leg moves here too (see
    * [[contrastsDeep]]) — at 10/30x ann7 IS the default learned-coarse
    * path and stays in [[llm]].
    */
  private val contrastQueries = Seq("ann4_ivfpq_topk")

  /** ann7 at the deep point measures the nlist flat-clamp knee (the quadratic
    * creep ann10's IMI exists to remove) — a contrast, not a default path:
    * the depth pre-flight tiers flat→learned→IMI past the clamp, so serving
    * code at 100x routes to ann10. Kept measured (ann10's claim needs the
    * knee number) but out of the llm_deep composite.
    */
  private val contrastsDeep = Seq("ann7_ivf_learned")

  /** Deep leg: one more decade (default 100x) for the six heaviest /
    * most scale-critical LLM ops — the five most expensive dedup rows plus
    * ann10, whose whole claim is the 100x point (the IMI vs ann7's clamp
    * knee needs both series at depth). The 10x→30x interval can hide
    * superlinear creep that a 30x→100x interval exposes. Docs/embeddings
    * corpus only (these six touch nothing else), so the 100x build cost is
    * bounded by the text corpus, not 100x of lineitem. ann4's contrast row
    * is deliberately excluded: its fixed-block quadratic at 100x would
    * cost ~10 minutes to re-measure a lesson the 30x point already prices.
    */
  private val llmDeep = Seq("dd2_minhash_lsh", "dd6_dup_groups",
    "dd8h_spans_hashed", "dd11_incremental_dedup", "ann10_imi_topk")

  /** Infra leg (round 14): the incremental-aggregate fold (x13) on the
    * scale curve — its claim is O(batch + groups) serve cost, never
    * O(fact), so the curve should flatten hard: the corpus grows
    * `copies`x but the timed serve is partials(batch) ∪ artifact. (The
    * untimed warm-up pays the per-corpus partials build, same policy as
    * dd13/st15.) The versioned-table family gets its own [[vtLeg]].
    */
  private val infraQueries = Seq("x13_incremental_agg")

  /** Headline deep leg (round 12): the flagship 12-join star (v5) and the
    * 7-col window dedup (w1) get their own 100x point on a FULL corpus —
    * the 30x point was the last committed word on the view DAG, and the
    * 30x→100x interval is where per-key depth or a broadcast flipping to
    * sort-merge would show as superlinear creep. Ratio is published
    * against the same queries measured at the last full scale point.
    */
  private val headlineDeep = Seq("v5_individual_budget", "w1_window_dedup")

  /** Skew leg: the per-user windows (w9 LAG, j15 as-of, x9 cohorts) are
    * measured on uniform fixtures everywhere else; this leg re-keys the
    * 10x events corpus zipf-style — user 1 holds ~50% of all events,
    * user 2 ~20%, user 3 ~10%, the tail keeps its original key — and
    * measures the same queries on both corpora. A per-user window cannot
    * be salted without breaking its sequential semantics (lag/as-of need
    * every row of a key in order), so the honest claim is a BOUND, not
    * immunity: per-key cost is the sort's O(n_k log n_k) — never
    * quadratic — and the wall-clock ratio published here is what a 50%%
    * hot key actually costs end-to-end.
    */
  private val skewQueries = Seq("w9_event_deltas", "j15_asof_join", "x9_retention_cohorts")

  /** Content-skew leg (round 12): the dedup family's skew exposure is HOT
    * SHINGLES — boilerplate text shared by a large fraction of documents
    * lands every carrier in the same LSH band buckets (dd2) and the same
    * k-gram dup-count groups (dd8h). The guards under test:
    * `Dedup.subPartitionBuckets`' bounded-replication split (spec'd, but
    * never MEASURED under zipf text until now) and dd8h's hashed-key
    * shuffle. Corpus: the 10x documents with a fixed 12-word boilerplate
    * header prepended zipf-style — 50% of docs share header A, 20% B, 10%
    * C, tail unchanged (hash-deterministic pick). Same queries, same
    * volume, uniform-vs-zipf wall-clock ratio published.
    */
  private val skewTextQueries = Seq("dd2_minhash_lsh", "dd8h_spans_hashed")

  def buildTextSkewCorpus(spark: SparkSession, tenXDir: String, outDir: String): Unit = {
    val done = new java.io.File(s"$outDir/_GRAFT_SCALE_DONE")
    if (done.exists()) { System.err.println(s"[scale] text-skew corpus at $outDir reused"); return }
    val docs = spark.read.parquet(s"$tenXDir/documents.parquet")
    def header(tag: String): String =
      (1 to 12).map(i => s"boiler$tag$i").mkString("", " ", " ")
    val u = pmod(xxhash64(col("doc_id")), lit(100L))
    docs.withColumn("text",
        concat(when(u < 50, lit(header("a"))).when(u < 70, lit(header("b")))
          .when(u < 80, lit(header("c"))).otherwise(lit("")), col("text")))
      .repartition(16).write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    done.createNewFile()
    System.err.println(s"[scale] text-skew corpus built at $outDir (50/20/10% hot headers)")
  }

  def buildSkewCorpus(spark: SparkSession, tenXDir: String, outDir: String): Unit = {
    val done = new java.io.File(s"$outDir/_GRAFT_SCALE_DONE")
    if (done.exists()) { System.err.println(s"[scale] skew corpus at $outDir reused"); return }
    val ev = spark.read.parquet(s"$tenXDir/events.parquet")
    // hash-deterministic head: 50/20/10% on three hot keys, tail unchanged
    val u = pmod(xxhash64(col("event_id")), lit(100L))
    ev.withColumn("user_id",
        when(u < 50, lit(1L)).when(u < 70, lit(2L)).when(u < 80, lit(3L))
          .otherwise(col("user_id")))
      .repartition(16).write.mode("overwrite").parquet(s"$outDir/events.parquet")
    done.createNewFile()
    System.err.println(s"[scale] skew corpus built at $outDir (50/20/10% hot keys)")
  }

  /** documents + embeddings only — the subset [[llmDeep]] reads; shared by
    * [[buildCorpus]] (full points) and the deep point's docs-only build.
    */
  def buildDocsCorpus(spark: SparkSession, srcDir: String, outDir: String,
      copies: Int): Unit = {
    val done = new java.io.File(s"$outDir/_GRAFT_SCALE_DONE")
    if (done.exists()) { System.err.println(s"[scale] docs corpus at $outDir reused"); return }
    writeDocsAndEmbeddings(spark, srcDir, outDir, copies)
    done.createNewFile()
    System.err.println(s"[scale] docs corpus built at $outDir (${copies}x docs+embeddings)")
  }

  private def writeDocsAndEmbeddings(spark: SparkSession, srcDir: String,
      outDir: String, copies: Int): Unit = {
    // documents: copy i appends a per-copy suffix to EVERY word — within a
    // copy the dup/shingle structure is byte-for-byte the original's, but no
    // 3-gram shingle matches across copies, so near-dup candidate pairs grow
    // exactly `copies`x (plain duplication would instead make every doc a
    // copies-way near-dup group and measure a quadratic pair explosion the
    // real corpus doesn't have). doc_id stride 10M keeps dd2's +100000
    // mutation ids collision-free.
    val docs = spark.read.parquet(s"$srcDir/documents.parquet")
    (0 until copies).map { i =>
      docs.withColumn("doc_id", col("doc_id") + lit(i * 10000000L))
        .withColumn("text", regexp_replace(col("text"), "(\\S+)", s"$$1c$i"))
    }.reduce(_ unionAll _).repartition(16)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    val emb = spark.read.parquet(s"$srcDir/embeddings.parquet")
    val stride = emb.agg(max(col("vec_id"))).head().getLong(0) + 1L
    (0 until copies).map(i => emb.withColumn("vec_id", col("vec_id") + lit(i * stride)))
      .reduce(_ unionAll _).repartition(8)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
  }

  def buildCorpus(spark: SparkSession, srcDir: String, outDir: String, copies: Int): Unit = {
    val done = new java.io.File(s"$outDir/_GRAFT_SCALE_DONE")
    if (done.exists()) { System.err.println(s"[scale] corpus at $outDir reused"); return }
    def shifted(table: String, key: String, parts: Int): DataFrame = {
      val base = spark.read.parquet(s"$srcDir/$table.parquet")
      // one offset stride for all copies, past any key in the source
      val stride = base.agg(max(col(key))).head().getLong(0) + 1L
      (0 until copies).map(i => base.withColumn(key, col(key) + lit(i * stride)))
        .reduce(_ unionAll _).repartition(parts)
    }
    // events.parquet has shipped ts as both INT64 TIMESTAMP(NANOS) and plain
    // timestamp[us]; the session's nanosAsLong makes the legacy encoding
    // readable (long values copy through unchanged) and is a no-op on the
    // native one. Either way the copy re-reads through Tables.events, which
    // branches on the observed type.
    shifted("lineitem", "l_orderkey", 32).write.mode("overwrite").parquet(s"$outDir/lineitem.parquet")
    shifted("orders", "o_orderkey", 16).write.mode("overwrite").parquet(s"$outDir/orders.parquet")
    shifted("events", "event_id", 16).write.mode("overwrite").parquet(s"$outDir/events.parquet")
    Seq("customer", "supplier", "nation", "region", "part").foreach { t =>
      spark.read.parquet(s"$srcDir/$t.parquet").write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    }
    writeDocsAndEmbeddings(spark, srcDir, outDir, copies)
    done.createNewFile()
    System.err.println(s"[scale] corpus built at $outDir (${copies}x facts+docs, 1x dims)")
  }

  /** A timed run that THREW — recorded here so main can refuse to write
    * BENCH_SCALE.json. A failed run used to fall through to the generic
    * timing path and record its (near-zero) exception latency as the
    * query's median; one such run published a headline_deep leg where the
    * 100x flagship read 0.010 s — plausible-looking JSON, garbage data.
    * Failures must be loud: no artifact beats a wrong artifact.
    */
  private val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]

  private def isolate(spark: SparkSession): Unit = {
    // release() drops the registry's strong refs too (clearCache alone
    // leaves a few hundred plan trees pinned over a multi-hour run)
    graft.ops.PinnedCaches.release(blocking = true)
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.sqlContext.clearCache(); System.gc()
  }

  private def measure(spark: SparkSession, dir: String,
      names: Seq[String]): Seq[(String, Double)] = {
    def isolate(): Unit = BenchScale.isolate(spark)
    names.map { name =>
      val fn = SparkEntry.queries(name)
      // untimed warm-up (codegen + JIT), then median-of-3 — Bench.scala policy
      try fn(spark, dir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => System.err.println(s"[scale] warmup $name failed: $e") }
      isolate()
      val times = (1 to 3).flatMap { _ =>
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, dir).write.format("noop").mode("overwrite").save(); true }
          catch { case e: Throwable =>
            System.err.println(s"[scale] $name failed: $e")
            failures.getOrElseUpdate(s"$dir $name", e.toString); false
          }
        val dt = (System.nanoTime() - t0) / 1e9
        isolate()
        if (ok) Some(dt) else None
      }
      System.err.println(f"[scale] $dir $name: ${times.map(t => f"$t%.2f").mkString(", ")}" +
        (if (times.size < 3) s" (${3 - times.size} run(s) FAILED)" else ""))
      // median of the successful runs; all-failed contributes NaN, which
      // never reaches the file (main aborts when failures is non-empty)
      name -> (if (times.isEmpty) Double.NaN else times.sorted.apply(times.size / 2))
    }
  }

  /** INTERLEAVED-pairs measurement (round 18 — the QuietReps adjudication
    * method folded in as the default for deep and skew legs): each rep
    * measures the SAME query at EVERY point back-to-back, so a rep's
    * point-pair ratio shares one ambient-noise window. Three rounds
    * running, the committed JSON published single-shot deep outliers
    * (r15 w1/v5, r16 v5 5.38x, r17 w1 5.04x) that PERF_NOTES then
    * adjudicated down with exactly this method (2.7x) — the adjudication
    * now IS the measurement, and the artifact reports the per-rep spread
    * so a noisy window is visible in the JSON itself. Returns every rep's
    * time per (query, point label); callers take medians and per-rep
    * pair ratios.
    */
  private def measureInterleaved(spark: SparkSession, points: Seq[(String, String)],
      names: Seq[String], reps: Int = 3): Map[(String, String), Vector[Double]] = {
    val times = scala.collection.mutable.Map.empty[(String, String), Vector[Double]]
      .withDefaultValue(Vector.empty)
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      points.foreach { case (_, d) => // one untimed warm-up per point
        try fn(spark, d).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable => System.err.println(s"[scale] warmup $name failed: $e") }
        isolate(spark)
      }
      (1 to reps).foreach { r =>
        points.foreach { case (lbl, d) =>
          val t0 = System.nanoTime()
          val ok =
            try { fn(spark, d).write.format("noop").mode("overwrite").save(); true }
            catch { case e: Throwable =>
              System.err.println(s"[scale] $name@$lbl failed: $e")
              failures.getOrElseUpdate(s"$d $name", e.toString); false
            }
          val dt = (System.nanoTime() - t0) / 1e9
          isolate(spark)
          if (ok) times((name, lbl)) = times((name, lbl)) :+ dt
          System.err.println(f"[scale-il] rep $r/$reps $lbl $name: $dt%.2f s")
        }
      }
    }
    times.toMap
  }

  private def medianOf(xs: Vector[Double]): Double =
    if (xs.isEmpty) Double.NaN else xs.sorted.apply(xs.length / 2)

  /** Per-rep pair ratios numer/denom (rep i over rep i — the shared-window
    * pairing) and their median, per query.
    */
  private def pairRatios(t: Map[(String, String), Vector[Double]],
      names: Seq[String], denomLbl: String, numerLbl: String)
      : Seq[(String, Vector[Double])] =
    names.map { q =>
      val d = t.getOrElse((q, denomLbl), Vector.empty)
      val n = t.getOrElse((q, numerLbl), Vector.empty)
      q -> d.zip(n).map { case (a, b) => b / a }
    }

  /** Layout leg (round 13): the z-order skipping claim measured at the
    * first scale point — the 10x lineitem written twice (z-ordered on
    * (l_partkey, l_suppkey) vs linear-sorted on l_partkey, same row-group
    * size), then the NON-sort-dim predicate timed on each with the scan's
    * decoded-row metric captured (rows surviving row-group pruning). The
    * z layout should decode a small fraction of what the linear layout
    * decodes — the property zo1/zo2 pin for correctness and ZOrderSpec
    * asserts at sf0.01.
    */
  private def layoutLeg(spark: SparkSession, dir: String): String = {
    import graft.ops.ZOrder
    val li = spark.read.parquet(s"$dir/lineitem.parquet").select(
      col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
      col("l_linenumber"), col("l_quantity"))
    val st = li.agg(min(col("l_partkey")), max(col("l_partkey")),
      min(col("l_suppkey")), max(col("l_suppkey"))).head
    val stats = Seq((st.getLong(0), st.getLong(1)), (st.getLong(2), st.getLong(3)))
    val base = java.nio.file.Files.createTempDirectory("graft_scale_zo").toString
    ZOrder.layoutWrite(li, Seq(col("l_partkey"), col("l_suppkey")), stats,
      bits = 12, path = s"$base/z", nFiles = 32, blockBytes = 256L << 10)
    li.repartitionByRange(32, col("l_partkey"))
      .sortWithinPartitions(col("l_partkey"))
      .write.option("parquet.block.size", 256L << 10).parquet(s"$base/lin")
    val pred = col("l_suppkey") === 420
    def run(path: String): (Long, Double) = {
      spark.read.parquet(path).filter(pred).count() // warm
      val times = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        spark.read.parquet(path).filter(pred).count()
        (System.nanoTime() - t0) / 1e9
      }
      val df = spark.read.parquet(path).filter(pred)
      df.collect()
      val rows = df.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metrics("numOutputRows").value
      }.sum
      (rows, times.sorted.apply(1))
    }
    val (zr, zt) = run(s"$base/z")
    val (lr, lt) = run(s"$base/lin")
    val total = li.count()
    // the two layouts are ~80 MB per run and derivable — don't accumulate
    // them across runs like the cached corpora (which ARE reused)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    System.err.println(f"[scale] layout leg: z decodes $zr of $total, linear $lr; z $zt%.2fs linear $lt%.2fs")
    // lr = 0 (predicate outside the corpus's suppkey domain — possible on a
    // small smoke corpus) must emit valid JSON, not NaN
    val ratio = if (lr > 0) f"${zr.toDouble / lr}%.4f" else "null"
    f"""{"predicate":"l_suppkey = 420 (non-sort dim)","total_rows":$total,""" +
      f""""z_decoded_rows":$zr,"linear_decoded_rows":$lr,""" +
      f""""decode_ratio":$ratio,"z_sec":$zt%.3f,"linear_sec":$lt%.3f}"""
  }

  /** Versioned-log leg (round 14): the vt family's metadata plane and
    * bounded reads, measured on the scale curve — the instrument VERDICT r13
    * asked for before/after the checkpoint work. Per point: a 12-commit
    * stats-tracked versioned orders table (crosses the v10 checkpoint;
    * done-marker cached like the corpora), then median-of-3 of
    *  - plan_sec: `currentVersion` — pure log planning, must stay
    *    checkpoint-bounded (≤ CheckpointInterval manifest reads) and
    *    therefore FLAT across scale points and table age;
    *  - cdc_sec: `changes(11, 12)` — last append's CDC, reads only the
    *    append's files (O(batch), grows with per-commit size only);
    *  - pruned_sec: `readPruned` over ~1/12 of the key domain — O(overlapping
    *    files);
    *  - read_sec: full latest-version read, the honest O(table) yardstick
    *    the three bounded rows are read against.
    */
  private def vtLeg(spark: SparkSession, copies: Int, dir: String): String = {
    import graft.merge.Versioned
    val base = s"/tmp/graft_scale_vt${copies}x"
    val root = s"$base/t"
    val done = new java.io.File(s"$base/_GRAFT_SCALE_DONE")
    if (!done.exists()) {
      val o = spark.read.parquet(s"$dir/orders.parquet")
        .select(col("o_orderkey"), col("o_orderstatus"))
      (0 until 12).foreach { i =>
        Versioned.appendWithStats(
          o.filter(pmod(col("o_orderkey"), lit(12)) === i)
            .repartitionByRange(4, col("o_orderkey")),
          root, Seq("o_orderkey"))
      }
      done.createNewFile()
      System.err.println(s"[scale] vt table built at $root (12 stats-tracked commits)")
    }
    def med(f: => Unit): Double = {
      f // untimed warm-up, same policy as measure()
      (1 to 3).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }.sorted.apply(1)
    }
    val cur = Versioned.currentVersion(root).get
    // key domain from the manifest stats — no data read for the bounds
    val lo = cur.stats.values.map(_.head._1).min
    val hi = lo + (cur.stats.values.map(_.head._2).max - lo) / 12
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    val planSec = med { Versioned.currentVersion(root); () }
    val cdcSec = med { noop(Versioned.changes(spark, root, 11, 12)) }
    val prunedSec = med { noop(Versioned.readPruned(spark, root, "o_orderkey", lo, hi)) }
    val readSec = med { noop(Versioned.read(spark, root)) }
    // COW DML leg (round 15): merge a top-1/16-window source into a fresh
    // RANGE-CLUSTERED 16-file table — the cost claim is O(affected files +
    // source), never O(table), so the measured seconds should track the
    // window's data (which grows with the corpus) while the affected file
    // count stays ~1-2 of 16 at every point. Fresh tmp table per run (a
    // merge commits, so reusing the cached corpus dir would accrete
    // versions across rounds); reps are real merges on a state the window
    // keeps bounded.
    // Every rep — warm-up included — merges onto the PRISTINE 16-file v1
    // state: the merge is timed, then an UNTIMED rollback(1) (a pointer
    // flip, zero data moved) restores v1 before the next rep. The median
    // therefore prices the operator's pristine-table scoping, and the
    // affected-file count is a per-rep invariant (reported as the MAX so a
    // single wider rep can't hide) — this removes r16's caveat that later
    // reps re-merged over their own rewrites and only rep 1 priced the
    // radius.
    def medPristineMerge(dmlRoot: String, src: org.apache.spark.sql.DataFrame)
        : (Double, Int, Int) = {
      var aff = -1
      var tot = -1
      def once(): Double = {
        val pre = Versioned.currentVersion(dmlRoot).get
        val t0 = System.nanoTime()
        val post = Versioned.mergeInto(spark, dmlRoot, src, Seq("o_orderkey"))
        val sec = (System.nanoTime() - t0) / 1e9
        aff = math.max(aff, (pre.files.toSet -- post.files.toSet).size)
        tot = pre.files.length
        Versioned.rollback(dmlRoot, 1) // untimed: back to the pristine state
        sec
      }
      once() // untimed warm-up, same policy as measure()
      val secs = (1 to 3).map(_ => once()).sorted
      (secs(1), aff, tot)
    }
    val dmlBase = java.nio.file.Files.createTempDirectory(s"graft_vtdml_${copies}x").toString
    val dmlRoot = s"$dmlBase/t"
    val o2 = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderkey"), col("o_orderstatus"))
    Versioned.appendWithStats(o2.repartitionByRange(16, col("o_orderkey")),
      dmlRoot, Seq("o_orderkey"))
    val kst = o2.agg(min(col("o_orderkey")), max(col("o_orderkey"))).head
    val wlo = kst.getLong(1) - (kst.getLong(1) - kst.getLong(0)) / 16
    val src = o2.filter(col("o_orderkey") >= wlo)
      .select(col("o_orderkey"), lit("X").as("o_orderstatus")).localCheckpoint(true)
    val (mergeSec, affected, total) = medPristineMerge(dmlRoot, src)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dmlBase))
    // SPLIT-window variant (round 16): the classic two-month backfill —
    // source keys in the BOTTOM and TOP 1/32 of the domain, nothing
    // between. The per-key range SET scopes `affected` to the two end
    // windows (~2 of 16 files); the retired single-envelope radius spanned
    // [min, max] and rewrote all 16.
    val dmlBase2 = java.nio.file.Files.createTempDirectory(s"graft_vtdml2_${copies}x").toString
    val dmlRoot2 = s"$dmlBase2/t"
    Versioned.appendWithStats(o2.repartitionByRange(16, col("o_orderkey")),
      dmlRoot2, Seq("o_orderkey"))
    val span = kst.getLong(1) - kst.getLong(0)
    val src2 = o2.filter(col("o_orderkey") <= kst.getLong(0) + span / 32 ||
        col("o_orderkey") >= kst.getLong(1) - span / 32)
      .select(col("o_orderkey"), lit("Y").as("o_orderstatus")).localCheckpoint(true)
    val (merge2Sec, affected2, total2) = medPristineMerge(dmlRoot2, src2)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dmlBase2))
    // DELETION-VECTOR leg (round 18, vt27): the same narrow delete (every
    // 16th key of the top 1/16 window — ~0.4% of the table's rows) run
    // MERGE-ON-READ vs COPY-ON-WRITE on the same pristine 16-file table.
    // The scale claim is in the BYTES, which are deterministic: COW
    // rewrites the affected files (O(affected files) bytes, grows with the
    // corpus), the DV writes one victim-sized sidecar (O(deleted rows)
    // bytes). The read tax the vectors buy is priced beside it: a full
    // read of the DV'd head vs the pristine head.
    val dmlBase3 = java.nio.file.Files.createTempDirectory(s"graft_vtdv_${copies}x").toString
    val dvRoot = s"$dmlBase3/t"
    Versioned.appendWithStats(o2.repartitionByRange(16, col("o_orderkey")),
      dvRoot, Seq("o_orderkey"))
    val delPred = col("o_orderkey") >= wlo && pmod(col("o_orderkey"), lit(16)) === 0
    def sizeOf(rel: String): Long =
      java.nio.file.Files.size(java.nio.file.Paths.get(dvRoot).resolve(rel))
    def medPristineDelete(f: => Versioned.Version,
        bytesOf: Versioned.Version => Long): (Double, Long) = {
      var b = 0L
      def once(): Double = {
        val t0 = System.nanoTime()
        val post = f
        val sec = (System.nanoTime() - t0) / 1e9
        b = bytesOf(post)
        Versioned.rollback(dvRoot, 1)
        sec
      }
      once() // untimed warm-up
      val secs = (1 to 3).map(_ => once()).sorted
      (secs(1), b)
    }
    val v1Files = Versioned.currentVersion(dvRoot).get.files.toSet
    val (cowDelSec, cowDelBytes) = medPristineDelete(
      Versioned.deleteWhere(spark, dvRoot, delPred),
      post => post.files.filterNot(v1Files).map(sizeOf).sum)
    val (dvDelSec, dvDelBytes) = medPristineDelete(
      Versioned.deleteWhereDV(spark, dvRoot, delPred),
      post => post.dvs.valuesIterator.flatten.map(_._1).toSeq.distinct.map(sizeOf).sum)
    // read tax: serve the head with vectors applied vs the pristine head
    Versioned.deleteWhereDV(spark, dvRoot, delPred)
    val dvReadSec = med { noop(Versioned.read(spark, dvRoot)) }
    Versioned.rollback(dvRoot, 1)
    val cleanReadSec = med { noop(Versioned.read(spark, dvRoot)) }
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dmlBase3))
    def f3(v: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    System.err.println(f"[scale] vt leg ${copies}x: plan $planSec%.3f cdc $cdcSec%.3f " +
      f"pruned $prunedSec%.3f read $readSec%.3f merge $mergeSec%.3f " +
      f"(rewrote $affected of $total files, every rep pristine) " +
      f"splitmerge $merge2Sec%.3f (rewrote $affected2 of $total2 files, every rep pristine) " +
      f"dvdel $dvDelSec%.3f/$dvDelBytes%d B vs cowdel $cowDelSec%.3f/$cowDelBytes%d B " +
      f"(dv read $dvReadSec%.3f vs clean $cleanReadSec%.3f)")
    s"""{"commits":12,"files":${cur.files.length},"plan_sec":${f3(planSec)},""" +
      s""""cdc_last_append_sec":${f3(cdcSec)},"pruned_read_sec":${f3(prunedSec)},""" +
      s""""full_read_sec":${f3(readSec)},"merge_window_sec":${f3(mergeSec)},""" +
      s""""merge_affected_files":$affected,"merge_total_files":$total,""" +
      s""""merge_split_window_sec":${f3(merge2Sec)},""" +
      s""""merge_split_affected_files":$affected2,"merge_split_total_files":$total2,""" +
      s""""dv_delete_sec":${f3(dvDelSec)},"dv_delete_bytes":$dvDelBytes,""" +
      s""""cow_delete_sec":${f3(cowDelSec)},"cow_delete_bytes":$cowDelBytes,""" +
      s""""dv_read_sec":${f3(dvReadSec)},"clean_read_sec":${f3(cleanReadSec)}}"""
  }

  /** Log-AGE leg (round 15, VERDICT r14 item 4): the [[vtLeg]] block holds
    * commits constant and scales DATA — necessary but uninformative for a
    * log whose real cost axis is COMMIT COUNT. This leg times that axis:
    * a metadata-only table driven to 100/300/1000 commits (4 stats-carrying
    * file entries per commit — the micro-batch shape ST17 accretes), then
    * measured seconds for (a) planning the head (`currentVersion`: pointer
    * read + forward probes + ≤ CheckpointInterval manifest reads, ZERO
    * directory listing) and (b) one more delta append (none of the measured
    * appends lands on a checkpoint multiple, so every rep prices the same
    * delta path). Flat-in-commits is the `_last_checkpoint` design's claim;
    * these are its seconds, beside the spec's read/listing counters.
    */
  private def logAgeLeg(): String = {
    import graft.merge.Versioned
    import graft.merge.Versioned.FileEntry
    def f5(v: Double) = "%.5f".formatLocal(java.util.Locale.ROOT, v)
    def med(reps: Int)(f: => Unit): Double = {
      f // untimed warm-up, same policy as measure()
      (1 to reps).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }.sorted.apply(reps / 2)
    }
    def measurePoint(commits: Int, steady: Boolean): (Double, Double) = {
      val base = java.nio.file.Files.createTempDirectory("graft_logage").toString
      val root = s"$base/t"
      (1 to commits).foreach { i =>
        val added = (0 until 4).map(j => FileEntry(s"data/c$i/f$j.parquet",
          Seq((i.toLong * 4 + j, i.toLong * 4 + j + 1))))
        // steady: each commit delists the previous commit's files (the vt12
        // copy-on-write shape), so table STATE stays 4 files at any age
        val removed = if (steady && i > 1)
          (0 until 4).map(j => s"data/c${i - 1}/f$j.parquet") else Nil
        Versioned.commitFiles(root, if (steady) "merge" else "append",
          added, Seq("k"), removed = removed)
      }
      val planSec = med(9) { Versioned.currentVersion(root); () }
      var j = 0
      val appendSec = med(5) {
        j += 1
        Versioned.commitFiles(root, "append",
          Seq(FileEntry(s"data/extra$j/f.parquet", Nil)), Nil); ()
      }
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
      (planSec, appendSec)
    }
    // growth series: state grows 4 files/commit, so plan cost tracks the
    // CURRENT file count (a checkpoint manifest lists the state — inherent);
    // steady series: adds+removes hold the state at 4 files, isolating the
    // axis the pointer design must keep flat — pure COMMIT COUNT
    val pts = Seq(100, 300, 1000).map { commits =>
      val (gp, ga) = measurePoint(commits, steady = false)
      val (sp, sa) = measurePoint(commits, steady = true)
      System.err.println(f"[scale] log-age $commits commits: grow plan $gp%.5f s " +
        f"append $ga%.5f s | steady plan $sp%.5f s append $sa%.5f s")
      s""""$commits":{"plan_sec":${f5(gp)},"append_sec":${f5(ga)},""" +
        s""""steady_plan_sec":${f5(sp)},"steady_append_sec":${f5(sa)}}"""
    }
    s"""{"entries_per_commit":4,"note":"grow = state accretes 4 files/commit """ +
      s"""(plan cost tracks current file count, inherent); steady = copy-on-write """ +
      s"""adds+removes hold state at 4 files (isolates pure commit-count cost — """ +
      s"""must stay flat)","points":${pts.mkString("{", ",", "}")}}"""
  }

  def main(args: Array[String]): Unit = {
    val srcDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Headline is measured on a CURVE of scale points (default 1x, 10x, 30x)
    // so the linearity claim rests on a fit, not a single ratio; the LLM leg
    // stays at the first point to bound run time. A point's corpus lives at
    // /tmp/graft_scale_{n}x and is reused across runs via the done-marker.
    val points = sys.env.getOrElse("SPARK_GRAFT_SCALE_POINTS", "10,30")
      .split(",").map(_.trim.toInt).toSeq
    val spark = graft.GraftSession.session()
    val dirs: Seq[(Int, String)] = (1, srcDir) +: points.map { n =>
      val d = s"/tmp/graft_scale_${n}x"
      buildCorpus(spark, srcDir, d, n); (n, d)
    }
    // Curve legs are INTERLEAVED since r20 (VERDICT r19 #3 — the deep/skew
    // adjudication method applied to the 1x/10x/30x points themselves):
    // each rep measures the same query at EVERY point back-to-back, so a
    // point-pair ratio shares one ambient-noise window; medians per point
    // feed the same JSON fields as before.
    val curvePoints: Seq[(String, String)] = dirs.map { case (n, d) => (s"${n}x", d) }
    def curveMeds(il: Map[(String, String), Vector[Double]], names: Seq[String])
        : Seq[(Int, Seq[(String, Double)])] =
      dirs.map { case (n, _) => (n, medsAt(il, names, s"${n}x")) }
    def medsAt(t: Map[(String, String), Vector[Double]], names: Seq[String], lbl: String) =
      names.map(q => q -> medianOf(t.getOrElse((q, lbl), Vector.empty)))
    val headlineIl = measureInterleaved(spark, curvePoints, headline)
    val headlineAt: Seq[(Int, Seq[(String, Double)])] = curveMeds(headlineIl, headline)
    val llmIl = measureInterleaved(spark, curvePoints, llm)
    val llmAt: Seq[(Int, Seq[(String, Double)])] = curveMeds(llmIl, llm)
    // labeled contrasts: same points, own block — never in a composite
    val contrastsAt: Seq[(Int, Seq[(String, Double)])] =
      curveMeds(measureInterleaved(spark, curvePoints, contrastQueries), contrastQueries)
    // infra leg: x13 fold economics on the curve + the versioned-log metrics
    val infraAt: Seq[(Int, Seq[(String, Double)])] =
      curveMeds(measureInterleaved(spark, curvePoints, infraQueries), infraQueries)
    val vtJson = dirs.map { case (n, d) => s""""${n}":${vtLeg(spark, n, d)}""" }
      .mkString("{", ",", "}")
    val logAgeJson = logAgeLeg()
    // dd15's from-scratch rebuild — retired from Bench's per-run suite
    // (round 15): priced ONCE per round here, single-shot (every shot IS a
    // from-scratch rebuild; warm-up would only rebuild it again)
    val dd15Json: String = {
      val name = "dd15_incremental_groups"
      val t0 = System.nanoTime()
      val ok =
        try { SparkEntry.queries(name)(spark, dirs.head._2)
          .write.format("noop").mode("overwrite").save(); true }
        catch { case e: Throwable =>
          failures.getOrElseUpdate(s"${dirs.head._2} $name", e.toString); false }
      val dt = (System.nanoTime() - t0) / 1e9
      graft.ops.PinnedCaches.release(blocking = true)
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      spark.sqlContext.clearCache(); System.gc()
      System.err.println(f"[scale] dd15 from-scratch (1x, single-shot): $dt%.2f s")
      if (ok) "%.3f".formatLocal(java.util.Locale.ROOT, dt) else "null"
    }
    // skew leg (INTERLEAVED since round 18): same queries, same volume
    // (first scale point), uniform and zipf keys measured rep-by-rep in
    // one shared noise window — the single-shot skew number that printed
    // 2.48x while the certified value was 2.15x (r17) is retired
    val skewBase = dirs(1)
    val skewDir = s"/tmp/graft_scale_skew${skewBase._1}x"
    buildSkewCorpus(spark, skewBase._2, skewDir)
    val skewIl = measureInterleaved(spark,
      Seq("uniform" -> skewBase._2, "zipf" -> skewDir), skewQueries)
    // layout leg: z-order skipping measured on the first scale point
    val layoutJson = layoutLeg(spark, skewBase._2)
    // content-skew leg: the dedup family on zipf-headed text (same volume)
    val skewTextDir = s"/tmp/graft_scale_skewtext${skewBase._1}x"
    buildTextSkewCorpus(spark, skewBase._2, skewTextDir)
    val skewTextIl = measureInterleaved(spark,
      Seq("uniform" -> skewBase._2, "zipf" -> skewTextDir), skewTextQueries)
    // deep leg (INTERLEAVED since round 18): one more decade for the top-5
    // LLM ops (see llmDeep), measured AGAINST the last full point in the
    // same window — the r15-r17 cycle of single-shot deep outliers needing
    // PERF_NOTES adjudication ends here. SPARK_GRAFT_DEEP_POINT=0 disables
    val deepPoint = sys.env.getOrElse("SPARK_GRAFT_DEEP_POINT", "100").trim.toInt
    val lastLbl = s"${points.max}x"
    val deepOpt: Option[(Int, Map[(String, String), Vector[Double]], Seq[(String, Double)])] =
      if (deepPoint > points.max) {
        val d = s"/tmp/graft_scale_${deepPoint}x_docs"
        buildDocsCorpus(spark, srcDir, d, deepPoint)
        // interleaved deep-vs-last pairs, then the ann7 clamp-knee contrast
        // on the same corpus (reported separately, single-shot — a labeled
        // knee, not an adjudication-grade ratio)
        val il = measureInterleaved(spark,
          Seq(lastLbl -> dirs.last._2, s"${deepPoint}x" -> d), llmDeep)
        Some((deepPoint, il, measure(spark, d, contrastsDeep)))
      } else None
    // headline deep leg: v5 + w1 on a FULL deep-point corpus, interleaved
    // against the last full point
    // (SPARK_GRAFT_HEADLINE_DEEP=0 disables — the full build is the cost)
    val hdPoint = sys.env.getOrElse("SPARK_GRAFT_HEADLINE_DEEP", deepPoint.toString).trim.toInt
    val headlineDeepOpt: Option[(Int, Map[(String, String), Vector[Double]])] =
      if (hdPoint > points.max) {
        val d = s"/tmp/graft_scale_${hdPoint}x"
        buildCorpus(spark, srcDir, d, hdPoint)
        Some((hdPoint, measureInterleaved(spark,
          Seq(lastLbl -> dirs.last._2, s"${hdPoint}x" -> d), headlineDeep)))
      } else None
    val llm1 = llmAt.head._2
    val llm10 = llmAt(1)._2
    def f3(v: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    def ratios(a: Seq[(String, Double)], b: Seq[(String, Double)]) =
      a.map { case (n, v) => n -> b.toMap.apply(n) / v }
    def obj(xs: Seq[(String, Double)]) =
      xs.map { case (k, v) => s"\"$k\":${f3(v)}" }.mkString("{", ",", "}")
    def objArr(xs: Seq[(String, Vector[Double])]) =
      xs.map { case (k, v) => s"\"$k\":[${v.map(f3).mkString(",")}]" }
        .mkString("{", ",", "}")
    // per-rep shared-window pair ratios of an interleaved run (medsAt is
    // defined up at the curve legs, shared)
    def ilBlock(t: Map[(String, String), Vector[Double]], names: Seq[String],
        denomLbl: String, numerLbl: String): (Seq[(String, Double)], String) = {
      val rr = pairRatios(t, names, denomLbl, numerLbl)
      val medR = rr.map { case (q, v) => q -> medianOf(v) }
      (medR, s""""reps":3,"rep_ratios":${objArr(rr)},"median_ratio":${obj(medR)}""")
    }
    val at1 = headlineAt.head._2; val at10 = headlineAt(1)._2
    val c1 = at1.map(_._2).sum; val c10 = at10.map(_._2).sum
    val l1 = llm1.map(_._2).sum; val l10 = llm10.map(_._2).sum
    def curveOf(at: Seq[(Int, Seq[(String, Double)])], base: Double) =
      at.map { case (n, xs) =>
        s""""${n}":{"composite":${f3(xs.map(_._2).sum)},"queries":${obj(xs)},""" +
          s""""ratio_vs_1x":${f3(xs.map(_._2).sum / base)}}"""
      }.mkString("{", ",", "}")
    val curve = curveOf(headlineAt, headlineAt.head._2.map(_._2).sum)
    val llmCurve = curveOf(llmAt, llmAt.head._2.map(_._2).sum)
    val deepJson = deepOpt.map { case (n, il, _) =>
      val deepLbl = s"${n}x"
      val deepMed = medsAt(il, llmDeep, deepLbl)
      val baseMed = medsAt(il, llmDeep, lastLbl)
      val (medR, ilJson) = ilBlock(il, llmDeep, lastLbl, deepLbl)
      s""","llm_deep":{"copies":$n,"composite":${f3(deepMed.map(_._2).sum)},""" +
        s""""queries":${obj(deepMed)},"at_$lastLbl":${obj(baseMed)},""" +
        s"""$ilJson,"ratio_vs_$lastLbl":${obj(medR)}}"""
    }.getOrElse("")
    // contrasts block: deliberate knee measurements, never in a composite —
    // ann4's fixed-block quadratic on the curve, ann7's nlist flat-clamp at
    // the deep point (ratio against its own default-path 30x row, which
    // stays in the llm leg)
    val contrastsCurve = contrastsAt.map { case (n, xs) =>
      s""""${n}":${obj(xs)}"""
    }.mkString("{", ",", "}")
    val contrastsDeepJson = deepOpt.map { case (n, _, cxs) =>
      val lastMap = llmAt.last._2.toMap
      val r = cxs.collect { case (q, v) if lastMap.contains(q) => q -> v / lastMap(q) }
      s""","deep":{"copies":$n,"queries":${obj(cxs)},""" +
        s""""ratio_vs_${llmAt.last._1}x":${obj(r)}}"""
    }.getOrElse("")
    val contrastsJson = s""","contrasts":{"note":"labeled knee measurements (ann4 fixed-block quadratic via contrast=true; ann7 nlist flat-clamp at depth; dd15 from-scratch rebuild, single-shot at 1x — retired from the per-run Bench suite in r15) — excluded from all composites","dd15_from_scratch_1x_sec":$dd15Json,"points":$contrastsCurve$contrastsDeepJson}"""
    val infraCurve = curveOf(infraAt, infraAt.head._2.map(_._2).sum)
    val infraJson = s""","infra_points":$infraCurve,"vt":$vtJson,"vt_log_age":$logAgeJson"""
    val headlineDeepJson = headlineDeepOpt.map { case (n, il) =>
      val deepLbl = s"${n}x"
      val deepMed = medsAt(il, headlineDeep, deepLbl)
      val baseMed = medsAt(il, headlineDeep, lastLbl)
      val (medR, ilJson) = ilBlock(il, headlineDeep, lastLbl, deepLbl)
      s""","headline_deep":{"copies":$n,"composite":${f3(deepMed.map(_._2).sum)},""" +
        s""""queries":${obj(deepMed)},"at_$lastLbl":${obj(baseMed)},""" +
        s"""$ilJson,"ratio_vs_$lastLbl":${obj(medR)}}"""
    }.getOrElse("")
    // skew block: medians per side, ratio = MEDIAN OF PER-REP PAIR RATIOS
    // (each rep's uniform/zipf pair shares one noise window), with the
    // per-rep spread published so a noisy window is visible in the artifact
    def skewJson(copies: Int): String = {
      val u = medsAt(skewIl, skewQueries, "uniform")
      val z = medsAt(skewIl, skewQueries, "zipf")
      val (medR, ilJson) = ilBlock(skewIl, skewQueries, "uniform", "zipf")
      val tu = medsAt(skewTextIl, skewTextQueries, "uniform")
      val tz = medsAt(skewTextIl, skewTextQueries, "zipf")
      val (tMedR, tIlJson) = ilBlock(skewTextIl, skewTextQueries, "uniform", "zipf")
      s""""skew":{"copies":$copies,"hot_shares":[0.5,0.2,0.1],""" +
        s""""uniform":${obj(u)},"zipf":${obj(z)},"ratio":${obj(medR)},$ilJson,""" +
        s""""text":{"queries":${skewTextQueries.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
        s""""uniform":${obj(tu)},"zipf":${obj(tz)},"ratio":${obj(tMedR)},$tIlJson}},"""
    }
    val json = s"""{"metric":"scale_composite_ratio","value":${f3(c10 / c1)},""" +
      s""""unit":"x","copies":${points.head},"points":$curve,"llm_points":$llmCurve,""" +
      s""""composite_sf1":${f3(c1)},"composite_sf10":${f3(c10)},""" +
      s""""sf1":${obj(at1)},"sf10":${obj(at10)},"ratio":${obj(ratios(at1, at10))},""" +
      s""""llm_composite_sf1":${f3(l1)},"llm_composite_sf10":${f3(l10)},""" +
      s""""llm_composite_ratio":${f3(l10 / l1)},""" +
      s""""llm_sf1":${obj(llm1)},"llm_sf10":${obj(llm10)},"llm_ratio":${obj(ratios(llm1, llm10))},""" +
      skewJson(skewBase._1) +
      s""""layout":$layoutJson$deepJson$headlineDeepJson$contrastsJson$infraJson}"""
    println(json)
    if (failures.nonEmpty) {
      failures.foreach { case (k, v) => System.err.println(s"[scale] FAILED $k: $v") }
      spark.stop()
      sys.error(s"${failures.size} measured run(s) failed — BENCH_SCALE.json NOT written " +
        "(a partial artifact would publish exception latencies as medians)")
    }
    try java.nio.file.Files.writeString(java.nio.file.Paths.get("BENCH_SCALE.json"), json)
    catch { case e: Throwable => System.err.println(s"[scale] file write failed: $e") }
    spark.stop()
  }
}
