package graft

import graft.ann.Ann
import graft.dedup.Dedup
import graft.text.TextOps
import org.apache.spark.sql.functions._

/** Dedup + similarity-search behavior: planted near-duplicates must be
  * found; MinHash estimates must track exact Jaccard; brute-force ANN must
  * rank an identical vector first.
  */
class DedupAnnSpec extends SparkSuite {
  import spark.implicits._

  private lazy val docs = sf("documents").select("doc_id", "text")

  test("exact dedup keeps one row per identical normalized text") {
    val dupped = docs.unionByName(
      docs.filter(col("doc_id") < 10).withColumn("doc_id", col("doc_id") + 1000))
    val out = Dedup.exact(dupped.withColumn("lang", lit("en"))
      .withColumn("source", lit("s")).withColumn("n_chars", lit(0L)), "doc_id", "text")
    assert(out.count() == docs.count())
    // survivor is the smallest id
    assert(out.filter(col("doc_id") >= 1000).isEmpty)
  }

  test("minhashLsh finds planted near-duplicates and skips unrelated docs") {
    val mutated = docs.filter(col("doc_id") < 8)
      .select((col("doc_id") + 5000).as("doc_id"),
        concat(col("text"), lit(" tiny suffix")).as("text"))
    val pairs = Dedup.minhashLsh(docs.unionByName(mutated), "doc_id", "text",
      numHashes = 64, bands = 16, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    (0 until 8).foreach { i =>
      assert(pairs.contains((i.toLong, i + 5000L)), s"missing planted pair $i")
    }
  }

  test("minhash est_jaccard tracks exact n-gram jaccard within 0.25") {
    val mutated = docs.filter(col("doc_id") < 8)
      .select((col("doc_id") + 5000).as("doc_id"),
        concat(col("text"), lit(" tiny suffix")).as("text"))
    val all = docs.unionByName(mutated)
    val cand = Dedup.minhashLsh(all, "doc_id", "text", threshold = 0.3)
    val exact = Dedup.ngramJaccard(cand.select("id_a", "id_b"), all, "doc_id", "text")
    val joined = cand.join(exact, Seq("id_a", "id_b"))
    val bad = joined.filter(abs(col("est_jaccard") - col("jaccard")) > 0.25)
    assert(bad.count() == 0, bad.collect().mkString(","))
  }

  test("simhash of identical docs is identical; near-identical within hamming 3") {
    val base = docs.filter(col("doc_id") < 5)
    val same = base.withColumn("doc_id", col("doc_id") + 7000)
    val sigs = Dedup.simhashSignatures(base.unionByName(same), "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    (0 until 5).foreach(i => assert(sigs(i.toLong) == sigs(i + 7000L)))
  }

  test("dupGroups merges chains transitively, keeps components apart, survives deep chains") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("id_a", "id_b")
    val g = Dedup.dupGroups(pairs).as[(Long, Long)].collect().toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(g(_) == 1L))
    assert(g(10L) == 10L && g(11L) == 10L)
    // pointer doubling: a diameter-63 chain converges in O(log d) rounds —
    // plain neighbor propagation would need 63 and blow the 10-round cap
    val chain = (1L to 64L).sliding(2).map(s => (s(0), s(1))).toSeq.toDF("id_a", "id_b")
    val g2 = Dedup.dupGroups(chain, maxIter = 10).as[(Long, Long)].collect().toMap
    assert((1L to 64L).forall(g2(_) == 1L))
    // zero near-dup pairs is a normal production outcome, not a crash
    val none = Dedup.dupGroups(pairs.filter(col("id_a") < 0))
    assert(none.columns.toSeq == Seq("doc_id", "group_id") && none.isEmpty)
  }

  test("native CosineSimilarity ≡ the HOF formulation, on codegen AND interpreted paths") {
    val emb = sf("embeddings").limit(200)
    val pairs = emb.select(col("vec_id").as("ia"), col("embedding").as("ea"))
      .crossJoin(emb.select(col("vec_id").as("ib"), col("embedding").as("eb")))
      .filter(col("ia") < col("ib")).limit(500)
    // the pre-Expression formulation, kept as the reference implementation
    def hofCosine(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) = {
      val dot = aggregate(zip_with(x, y, (a, b) => a.cast("double") * b.cast("double")),
        lit(0.0), (acc, v) => acc + v)
      def nrm(c: org.apache.spark.sql.Column) =
        sqrt(aggregate(transform(c, a => a.cast("double") * a.cast("double")),
          lit(0.0), (acc, v) => acc + v))
      round(dot / (nrm(x) * nrm(y)), 6)
    }
    def diffs(df: org.apache.spark.sql.DataFrame) = df
      .select(Ann.cosine(col("ea"), col("eb")).as("native"), hofCosine(col("ea"), col("eb")).as("hof"))
      .filter(col("native") =!= col("hof") || col("native").isNull =!= col("hof").isNull)
      .count()
    assert(diffs(pairs) == 0) // codegen path
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try assert(diffs(pairs) == 0) // interpreted path exercises nullSafeEval
    finally {
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
    }
    // mismatched lengths → NULL, like zip_with over unequal arrays
    val mm = pairs.limit(1).select(
      Ann.cosine(col("ea"), slice(col("eb"), 1, 10)).as("c"))
    assert(mm.filter(col("c").isNull).count() == 1)
    // SQL users get it through the session's GraftExtensions
    val sqlRow = spark.sql(
      "SELECT round(cosine_similarity(array(1.0d,0.0d), array(1.0d,0.0d)), 6) c").head()
    assert(sqlRow.getDouble(0) == 1.0)
  }

  test("native MinHashSignature ≡ the explode/agg xxhash64 formulation, codegen AND interpreted") {
    import org.apache.spark.sql.graft.ColumnBridge
    val docs = sf("documents").limit(200).select(col("doc_id"), col("text"))
    def viaExpr = docs.select(col("doc_id").as("doc"),
      ColumnBridge.column(graft.functions.MinHashSignature(
        ColumnBridge.expression(Dedup.shingles(col("text"), 3)), 16)).as("sig"))
    // the pre-Expression formulation, kept as the reference implementation
    val exploded = docs.select(col("doc_id").as("doc"),
      explode(Dedup.shingles(col("text"), 3)).as("shingle"))
      .withColumn("shingle_h", xxhash64(col("shingle")))
    val mins = (1 to 16).map(s => min(xxhash64(col("shingle_h"), lit(s))).as(s"h$s"))
    val viaAgg = exploded.groupBy(col("doc"))
      .agg(mins.head, mins.tail: _*)
      .select(col("doc"), array((1 to 16).map(s => col(s"h$s")): _*).as("sig"))
      .localCheckpoint(true)
    assert(viaExpr.exceptAll(viaAgg).isEmpty && viaAgg.exceptAll(viaExpr).isEmpty)
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try assert(viaExpr.exceptAll(viaAgg).isEmpty) // interpreted path = nullSafeEval
    finally {
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
    }
  }

  test("native PortableMinHashSignature ≡ the explode/agg md5 formulation, codegen AND interpreted") {
    import org.apache.spark.sql.graft.ColumnBridge
    val docs = sf("documents").limit(200).select(col("doc_id"), col("text"))
    def viaExpr = docs.select(col("doc_id").as("doc"),
      ColumnBridge.column(graft.functions.PortableMinHashSignature(
        ColumnBridge.expression(Dedup.shingles(col("text"), 3)), 16)).as("sig"))
    // the declarative salted-md5 formulation — the exact shape the DuckDB
    // oracles replay (conv/substring over the hex digest); the fused
    // expression must be VALUE-identical, which pins both the byte-level
    // 60-bit extraction and the seed→(pair, half) mapping
    val viaAgg = Dedup.minhashSignaturesAggPortable(docs, "doc_id", "text", 16)
      .localCheckpoint(true)
    assert(viaExpr.exceptAll(viaAgg).isEmpty && viaAgg.exceptAll(viaExpr).isEmpty)
    // odd numHashes exercises the unused-second-half guard
    def viaExprOdd = docs.select(col("doc_id").as("doc"),
      ColumnBridge.column(graft.functions.PortableMinHashSignature(
        ColumnBridge.expression(Dedup.shingles(col("text"), 3)), 5)).as("sig"))
    val viaAggOdd = Dedup.minhashSignaturesAggPortable(docs, "doc_id", "text", 5)
      .localCheckpoint(true)
    assert(viaExprOdd.exceptAll(viaAggOdd).isEmpty && viaAggOdd.exceptAll(viaExprOdd).isEmpty)
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try assert(viaExpr.exceptAll(viaAgg).isEmpty) // interpreted path = nullSafeEval
    finally {
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
    }
  }

  test("native SimHashSignature ≡ the explode/agg vote formulation, codegen AND interpreted") {
    import org.apache.spark.sql.graft.ColumnBridge
    val docs = sf("documents").limit(200).select(col("doc_id"), col("text"))
    def viaExpr = docs.select(col("doc_id").as("doc"),
      ColumnBridge.column(graft.functions.SimHashSignature(
        ColumnBridge.expression(graft.text.TextOps.tokens(lower(col("text")))))).as("sig"))
    val exploded = docs
      .select(col("doc_id").as("doc"),
        explode(graft.text.TextOps.tokens(lower(col("text")))).as("tok"))
      .select(col("doc"), xxhash64(col("tok")).as("h"))
    val votes = (0 until 64).map(j =>
      sum(when(shiftrightunsigned(col("h"), j).bitwiseAND(lit(1L)) === 1L, 1)
        .otherwise(-1)).as(s"b$j"))
    val packed = (0 until 64)
      .map(j => when(col(s"b$j") > 0, lit(1L << j)).otherwise(lit(0L)))
      .reduce((a, b) => a.bitwiseOR(b))
    val viaAgg = exploded.groupBy(col("doc"))
      .agg(votes.head, votes.tail: _*)
      .select(col("doc"), packed.as("sig"))
      .localCheckpoint(true)
    assert(viaExpr.exceptAll(viaAgg).isEmpty && viaAgg.exceptAll(viaExpr).isEmpty)
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try assert(viaExpr.exceptAll(viaAgg).isEmpty) // interpreted path = nullSafeEval
    finally {
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
    }
    // SQL round-trip through the session's GraftExtensions
    val r = spark.sql(
      "SELECT minhash_signature(array('a b c','b c d'), 4) AS m, simhash_signature(array('a','b')) AS s")
      .head()
    assert(r.getSeq[Long](0).length == 4 && r.getLong(1) != 0L)
  }

  test("brute-force ANN ranks an identical vector as the top neighbor") {
    val emb = sf("embeddings")
    val clones = emb.filter(col("vec_id") < 3)
      .withColumn("vec_id", col("vec_id") + 9000)
    val all = emb.unionByName(clones)
    val top = Ann.bruteForceTopK(all.filter(col("vec_id") >= 9000), all, k = 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    (0 until 3).foreach(i => assert(top(i + 9000L) == i.toLong))
  }

  test("LSH buckets: identical vectors land in the same bucket") {
    val emb = sf("embeddings").limit(50)
    val b1 = emb.select(col("vec_id"), Ann.lshBucket(col("embedding"), 8).as("b"))
    val b2 = emb.select(col("vec_id"), Ann.lshBucket(col("embedding"), 8).as("b"))
    assert(b1.exceptAll(b2).isEmpty) // deterministic
  }

  /** Recall methodology note: the fixture embeddings are isotropic random
    * vectors (global top-5 cosine ≈ 0.32, labels geometry-free), so GLOBAL
    * recall@k against the brute-force baseline is information-theoretically
    * unrecoverable for any sublinear index — there is no locality to
    * exploit. The standard eval is planted-neighbor recall: perturb vectors
    * by a small fixed angle (cosine ≈ 0.99) and require the index to return
    * the planted twin as the top neighbor.
    */
  test("ANN recall: multi-probe LSH recovers ≥0.8 of planted neighbors, beats single-probe; IVF is exact in-block") {
    val emb = sf("embeddings")
    // deterministic small-angle perturbation: ±0.02 per dim by index parity
    val planted = emb.filter(col("vec_id") < 100)
      .select((col("vec_id") + 100000).as("vec_id"),
        zip_with(col("embedding"), sequence(lit(0), size(col("embedding")) - 1),
          (x, i) => (x.cast("double") +
            when(pmod(i, lit(2)) === 0, lit(0.02)).otherwise(lit(-0.02))).cast("float"))
          .as("embedding"),
        col("label"))
    val all = emb.unionByName(planted)
    def recallAt1(df: org.apache.spark.sql.DataFrame): Double = {
      val top = df.filter(col("query_id") >= 100000 && col("rank") === 1)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
      (0 until 100).count(i => top.get(i + 100000L).contains(i.toLong)) / 100.0
    }
    val single = recallAt1(Ann.lshTopK(all, k = 1, planes = 8, probes = 0))
    val directed = recallAt1(Ann.lshTopK(all, k = 1, planes = 8, probes = 2))
    val full = recallAt1(Ann.lshTopK(all, k = 1, planes = 8, probes = 8))
    assert(full >= 0.8, s"full multi-probe recall $full < 0.8")
    assert(directed >= single, s"directed probes $directed should not lose to single-probe $single")
    assert(full >= directed, s"widening probes should not lose recall: $full < $directed")
    // query-directed probing: 2 margin-ordered probes should recover most of
    // what flipping all 8 planes recovers
    assert(directed >= full - 0.15, s"directed 2-probe recall $directed too far below full $full")
    // IVF: planted twin shares the label block, and in-block search is exact
    val ivf = recallAt1(Ann.ivfTopK(all, "label", k = 1))
    assert(ivf >= 0.99, s"IVF in-block recall $ivf < 0.99")
  }

  test("fingerprint is whitespace-normalizing and stable") {
    val df = Seq((1L, "Hello  world  foo"), (2L, "hello world foo"), (3L, "different"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
      .as[(Long, String)].collect().toMap
    assert(df(1L) == df(2L) && df(1L) != df(3L))
  }

  test("langId detects the dominant stopword language") {
    val df = Seq(
      (1L, "the cat and the dog in the house"),
      (2L, "el perro y la casa en el sol"),
      (3L, "qqq www eee")).toDF("doc_id", "text")
      .select(col("doc_id"), TextOps.langId(col("text")).as("l"))
      .as[(Long, String)].collect().toMap
    assert(df(1L) == "en" && df(2L) == "es" && df(3L) == "unknown")
  }

  test("gopher rules: planted pathologies trip exactly their rule") {
    val df = Seq(
      ("good", (1 to 80).map(i => s"word$i").mkString(" ")),
      ("short", "tiny doc"),
      ("symbols", (1 to 60).map(_ => "ok#tag").mkString(" ") + " ..."),
      ("bullets", (1 to 60).map(i => s"- item$i").mkString("\n"))).toDF("doc_id", "text")
    val out = TextOps.gopherFlags(df, "text").collect()
      .map(r => r.getAs[String]("doc_id") -> r).toMap
    assert(out("good").getAs[Boolean]("gopher_pass"))
    assert(!out("short").getAs[Boolean]("word_count_ok") &&
      !out("short").getAs[Boolean]("gopher_pass"))
    assert(!out("symbols").getAs[Boolean]("symbol_ratio_ok"))
    assert(out("symbols").getAs[Boolean]("word_count_ok")) // only the symbol rule trips
    assert(!out("bullets").getAs[Boolean]("bullet_ok"))
  }

  test("repetition filter: duplicated lines and paragraphs trip their ratios") {
    val clean = ("clean", (1 to 5).map(i => s"unique line $i").mkString("\n"))
    val dupLines = ("dup_lines", Seq.fill(10)("same line").mkString("\n"))
    val dupParas = ("dup_paras",
      (Seq.fill(3)("same para body") ++ Seq("another one")).mkString("\n\n"))
    val out = graft.text.TextOps.repetitionFlags(
        Seq(clean, dupLines, dupParas).toDF("doc_id", "text"), "text")
      .collect().map(r => r.getAs[String]("doc_id") -> r).toMap
    assert(out("clean").getAs[Boolean]("repetition_pass"))
    assert(!out("dup_lines").getAs[Boolean]("dup_line_ok")) // 9/10 duplicate lines
    assert(!out("dup_paras").getAs[Boolean]("dup_para_ok")) // 2/4 duplicate paras
  }

  test("dd7 dedup corpus: min-id canonical per group, sizes partition the corpus") {
    val docs = sf("documents").select(col("doc_id"), col("text"))
    val fam = docs.filter(pmod(col("doc_id"), lit(9)) === 0)
    val m1 = fam.select((col("doc_id") + 200000).as("doc_id"),
      concat(col("text"), lit(" near dup tail")).as("text"))
    val all = docs.unionByName(m1)
    val cand = fam.select(col("doc_id").as("id_a"), (col("doc_id") + 200000).as("id_b"))
    val pairs = graft.dedup.Dedup.ngramJaccard(cand, all, "doc_id", "text")
      .filter(col("jaccard") >= 0.45)
    val groups = graft.dedup.Dedup.dupGroups(pairs)
    val kept = all.select(col("doc_id"))
      .join(groups, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("group_id"), col("doc_id")).as("group_id"))
      .groupBy(col("group_id"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("group_size"))
    val rows = kept.collect()
    // group sizes partition the corpus: every input doc is in exactly one group
    assert(rows.map(_.getLong(2)).sum === all.count())
    // the canonical is its group's label (labels are min ids by construction)
    assert(rows.forall(r => r.getLong(1) === r.getLong(0)))
    // every matched family collapsed: its mutant is not a canonical survivor
    val matched = pairs.select(col("id_a")).distinct().count()
    assert(matched > 0)
    assert(rows.count(_.getLong(2) === 2L) === matched)
  }

  test("dd8 substring spans: marks shared passages, merges overlaps, splits on gaps") {
    val shared1 = (0 until 10).map(i => s"s$i").mkString(" ") // 10 shared words
    val shared2 = (0 until 8).map(i => s"t$i").mkString(" ")  // exactly one k=8 window
    val filler  = (0 until 9).map(i => s"f$i").mkString(" ")  // per-doc unique, > k gap
    val fillerB = (0 until 9).map(i => s"g$i").mkString(" ")
    val df = Seq(
      (1L, s"$shared1 $filler $shared2"),
      (2L, s"$shared1 $fillerB $shared2"),
      (3L, "totally unrelated words only here once upon a time and more pad")
    ).toDF("doc_id", "text")
    val out = Dedup.substringSpans(df, "doc_id", "text", k = 8)
      .as[(Long, Int, Int, Int)].collect().toSet
    // windows crossing from shared1 into the fillers differ per doc, so the
    // marked positions are 0..2 (span [0,9], 10 words) and 19 ([19,26], 8)
    assert(out === Set(
      (1L, 0, 9, 10), (1L, 19, 26, 8),
      (2L, 0, 9, 10), (2L, 19, 26, 8)))
  }

  test("dd8h: hashed shingle keys produce bit-identical spans to string keys") {
    // the production path (xxhash64'd keys — smaller shuffles) must agree
    // with the oracle twin on the full fixture corpus, not just toy rows
    val docs = sf("documents").select(col("doc_id"), col("text"))
    val str = Dedup.substringSpans(docs, "doc_id", "text", k = 8)
      .as[(Long, Int, Int, Int)].collect().toSet
    val hashed = Dedup.substringSpans(docs, "doc_id", "text", k = 8, hashedKey = true)
      .as[(Long, Int, Int, Int)].collect().toSet
    assert(str === hashed)
    assert(str.nonEmpty) // the corpus's organic boilerplate guarantees spans
  }

  test("dd8: windows exactly k apart merge (contiguous coverage), k+1 apart split") {
    val p1 = (0 until 8).map(i => s"p$i").mkString(" ")
    val p2 = (0 until 8).map(i => s"q$i").mkString(" ")
    val filler = (0 until 9).map(i => s"z$i").mkString(" ")
    // A holds p1+p2 back-to-back; B holds them far apart in reverse order,
    // so A's boundary-crossing windows (pos 1..7) match nothing in B
    val df = Seq(
      (1L, s"$p1 $p2"),
      (2L, s"$p2 $filler $p1")
    ).toDF("doc_id", "text")
    val out = Dedup.substringSpans(df, "doc_id", "text", k = 8)
      .as[(Long, Int, Int, Int)].collect().toSet
    // A: marked 0 and 8 (gap = k) -> ONE span [0,15]; B: 0 and 17 -> two
    assert(out === Set(
      (1L, 0, 15, 16),
      (2L, 0, 7, 8), (2L, 17, 24, 8)))
  }

  test("dd8b excision removes exactly the span tokens, passes clean docs through") {
    val shared1 = (0 until 10).map(i => s"s$i").mkString(" ")
    val shared2 = (0 until 8).map(i => s"t$i").mkString(" ")
    val filler  = (0 until 9).map(i => s"f$i").mkString(" ")
    val fillerB = (0 until 9).map(i => s"g$i").mkString(" ")
    val df = Seq(
      (1L, s"$shared1 $filler $shared2"),
      (2L, s"$shared1 $fillerB $shared2"),
      (3L, "Totally  unrelated words only here once upon a time and more pad")
    ).toDF("doc_id", "text")
    val spans = Dedup.substringSpans(df, "doc_id", "text", k = 8)
    val out = Dedup.exciseSpans(df, spans, "doc_id", "text")
      .as[(Long, String, Int)].collect().sortBy(_._1)
    assert(out(0) === ((1L, filler, 18)))
    assert(out(1) === ((2L, fillerB, 18)))
    // span-less docs pass through as the normalized (lowercase, single-space)
    // rebuild with nothing removed
    assert(out(2) === ((3L,
      "totally unrelated words only here once upon a time and more pad", 0)))
  }

  test("dd8: docs shorter than k windows produce no spans even when identical") {
    val df = Seq((1L, "five words not enough here"), (2L, "five words not enough here"))
      .toDF("doc_id", "text")
    assert(Dedup.substringSpans(df, "doc_id", "text", k = 8).isEmpty)
  }

  test("LSH bucket guard: a 5K-doc template cluster stays sub-quadratic, every doc participates") {
    // Worst-case hot bucket: 5000 docs with IDENTICAL text — every doc lands
    // in the same (band, band_hash) bucket in all 16 bands. Unguarded, the
    // candidate self-join would emit 16 × C(5000,2) ≈ 200M pre-distinct rows;
    // the sub-partition guard bounds it to ~n·maxBucket per band.
    val n = 5000L
    val maxBucket = 100
    val cluster = spark.range(n).select(
      (col("id") + 100000L).as("doc_id"),
      lit("the same boilerplate template text repeated across every shard of the corpus")
        .as("text"))
    val pairs = Dedup.minhashLsh(cluster, "doc_id", "text",
      numHashes = 64, bands = 16, threshold = 0.5, maxBucket = maxBucket)
      .select("id_a", "id_b").cache()
    val cnt = pairs.count()
    // sub-quadratic bound: Σ_sub C(size,2) ≤ n · maxBucket ≪ C(n,2) = 12.5M
    assert(cnt > 0 && cnt <= n * maxBucket,
      s"pair count $cnt outside (0, ${n * maxBucket}] — guard not bounding the bucket")
    // sub-partitioning (unlike cap-and-drop) keeps every doc in play
    val participants = pairs.select(explode(array(col("id_a"), col("id_b")))).distinct().count()
    assert(participants == n, s"only $participants of $n docs appear in a pair")
    pairs.unpersist()
    // same guard on the simhash banding path
    val sh = Dedup.simhashPairs(cluster, "doc_id", "text", maxHamming = 3,
      maxBucket = maxBucket).cache()
    val shCnt = sh.count()
    assert(shCnt > 0 && shCnt <= n * maxBucket,
      s"simhash pair count $shCnt outside (0, ${n * maxBucket}]")
    assert(sh.filter(col("hamming") =!= 0).isEmpty) // identical docs: hamming 0
    sh.unpersist()
  }

  test("dd10 SemDeDup: planted copies collapse to one kept member, singletons survive") {
    val emb = sf("embeddings").select(col("vec_id"), col("embedding"))
    // exact copies with new ids: cosine 1.0 within the same home list
    val copies = emb.filter(pmod(col("vec_id"), lit(7)) === 0)
      .withColumn("vec_id", col("vec_id") + 100000)
    val all = emb.unionByName(copies)
    val cents = graft.ann.Pq.coarseTrain(all, graft.ann.Pq.adaptiveNlist(all.count()))
    val out = Dedup.semDedup(all, cents, threshold = 0.999).cache()
    // every input row comes back exactly once, tagged
    assert(out.count() == all.count())
    // exactly one kept member per group
    val badGroups = out.groupBy("group_id")
      .agg(sum(when(col("kept"), 1).otherwise(0)).as("n_kept"))
      .filter(col("n_kept") =!= 1)
    assert(badGroups.isEmpty)
    // each planted copy shares its source's group (identical vector ->
    // same home list, cosine 1.0 >= threshold)
    val pairsOff = out.select(col("vec_id"), col("group_id"))
      .join(out.select((col("vec_id") + 100000).as("vec_id"),
        col("group_id").as("g2")), Seq("vec_id"))
    assert(pairsOff.count() > 0 && pairsOff.filter(col("group_id") =!= col("g2")).isEmpty)
    // a copied pair keeps exactly one of its >= 2 members
    assert(out.filter(col("group_size") >= 2).count() >= 2 * copies.count())
    out.unpersist()
  }

  test("LSH bucket guard is a no-op below maxBucket: pairs identical with and without headroom") {
    val mutated = docs.filter(col("doc_id") < 8)
      .select((col("doc_id") + 5000).as("doc_id"),
        concat(col("text"), lit(" tiny suffix")).as("text"))
    val all = docs.unionByName(mutated)
    val guarded = Dedup.minhashLsh(all, "doc_id", "text", maxBucket = 1024)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val loose = Dedup.minhashLsh(all, "doc_id", "text", maxBucket = Int.MaxValue)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(guarded == loose)
  }

  private def incBatch = {
    val nearDups = docs.filter(col("doc_id") < 8)
      .select((col("doc_id") + 5000).as("doc_id"),
        concat(col("text"), lit(" tiny suffix")).as("text"))
    val reversed = docs.filter(col("doc_id") >= 8 && col("doc_id") < 16)
      .select((col("doc_id") + 6000).as("doc_id"),
        concat_ws(" ", reverse(TextOps.tokens(lower(col("text"))))).as("text"))
    nearDups.unionByName(reversed)
  }

  test("incrementalLshFromIndex: a persisted index serves two batches identically to from-text") {
    val idx = tmpDir() + "/sig_index"
    Dedup.writeLshIndex(docs, "doc_id", "text", idx, numHashes = 64, portableHash = false)
    def fromIndex(inc: org.apache.spark.sql.DataFrame) =
      Dedup.incrementalLshFromIndex(spark, idx, inc, "doc_id", "text",
        numHashes = 64, bands = 16, threshold = 0.5, portableHash = false)
    def fromText(inc: org.apache.spark.sql.DataFrame) =
      Dedup.incrementalLsh(docs, inc, "doc_id", "text",
        numHashes = 64, bands = 16, threshold = 0.5, portableHash = false)
    // two successive batches off ONE index write; each equals the from-text path
    Seq(incBatch, incBatch.withColumn("doc_id", col("doc_id") + 100)).foreach { inc =>
      val a = fromIndex(inc); val b = fromText(inc)
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
      assert(a.count() === inc.count())
    }
    // serve params are index FACTS: a mismatch (here numHashes 16 against a
    // 64-wide index) must refuse loud — the silent alternative deflates
    // est_jaccard (short slices band-hash empties into one shared bucket)
    val e = intercept[IllegalArgumentException] {
      Dedup.incrementalLshFromIndex(spark, idx, incBatch, "doc_id", "text",
        numHashes = 16, bands = 4, threshold = 0.5, portableHash = false)
    }
    assert(e.getMessage.contains("mismatched"))
  }

  test("appendLshIndex: a folded batch serves identically to from-text over the union, and is matchable") {
    val idx = tmpDir() + "/sig_index_append"
    Dedup.writeLshIndex(docs, "doc_id", "text", idx, numHashes = 64, portableHash = false)
    // batch 1: token-REVERSED docs 0-7 — same vocabulary, zero 3-shingles
    // shared with their source (the fixture's reversal trick), so batch-2
    // near-dups of these can only ever match the APPENDED members
    val inc1 = docs.filter(col("doc_id") < 8)
      .select((col("doc_id") + 5000).as("doc_id"),
        concat_ws(" ", reverse(TextOps.tokens(lower(col("text"))))).as("text"))
    Dedup.appendLshIndex(spark, idx, inc1, "doc_id", "text", "batch1")
    // idempotency: replaying the SAME batch tag overwrites its partition
    // instead of duplicating sig rows (the restart-safety contract)
    Dedup.appendLshIndex(spark, idx, inc1, "doc_id", "text", "batch1")
    assert(spark.read.parquet(s"$idx/sigs").count() === docs.count() + inc1.count())
    // batch 2: near-dups OF BATCH 1 (its reversed text + one more token)
    val inc2 = inc1.select((col("doc_id") + 1000).as("doc_id"),
      concat(col("text"), lit(" extra")).as("text"))
    val served = Dedup.incrementalLshFromIndex(spark, idx, inc2, "doc_id", "text",
      numHashes = 64, bands = 16, threshold = 0.5, portableHash = false)
    val fromText = Dedup.incrementalLsh(docs.unionByName(inc1), inc2, "doc_id", "text",
      numHashes = 64, bands = 16, threshold = 0.5, portableHash = false)
    assert(served.exceptAll(fromText).isEmpty && fromText.exceptAll(served).isEmpty)
    // the append is load-bearing: every batch-2 doc's best match is its
    // batch-1 source (5000-5007), which only exists in the appended sigs
    val matches = served.collect()
    assert(matches.length === 8)
    matches.foreach { r =>
      assert(r.getAs[Boolean]("is_dup") &&
        r.getAs[Long]("matched_base") === r.getAs[Long]("doc_id") - 1000,
        s"doc ${r.getAs[Long]("doc_id")} matched ${r.getAs[Long]("matched_base")}")
    }
  }

  test("appendLshIndex: precomputed sigs built under OTHER params refuse the fold") {
    val idx = tmpDir() + "/sig_index_params"
    Dedup.writeLshIndex(docs, "doc_id", "text", idx, numHashes = 64, portableHash = false)
    // sigs built 16-wide against a 64-wide index: folding them would write
    // incompatible signatures into the persisted partition — refused, and
    // the index is untouched
    val wrong = Dedup.pinnedSignatures(incBatch, "doc_id", "text",
      numHashes = 16, portableHash = false)
    val e = intercept[IllegalArgumentException] {
      Dedup.appendLshIndex(spark, idx, incBatch, "doc_id", "text", "bp",
        precomputedSigs = Some((wrong, 16, false)))
    }
    assert(e.getMessage.contains("corrupt"))
    assert(spark.read.parquet(s"$idx/sigs").count() === docs.count())
    // matching params fold fine
    val right = Dedup.pinnedSignatures(incBatch, "doc_id", "text",
      numHashes = 64, portableHash = false)
    Dedup.appendLshIndex(spark, idx, incBatch, "doc_id", "text", "bp",
      precomputedSigs = Some((right, 64, false)))
    assert(spark.read.parquet(s"$idx/sigs").count() === docs.count() + incBatch.count())
  }

  test("excludeTag: a half-folded batch never matches itself under retry") {
    val idx = tmpDir() + "/sig_index_retry"
    Dedup.writeLshIndex(docs, "doc_id", "text", idx, numHashes = 64, portableHash = false)
    val inc = incBatch
    // simulate the crash-then-retry order: the fold ALREADY landed, now the
    // serve re-runs for the same batch tag
    Dedup.appendLshIndex(spark, idx, inc, "doc_id", "text", "b7")
    val retried = Dedup.incrementalLshFromIndex(spark, idx, inc, "doc_id", "text",
      numHashes = 64, bands = 16, threshold = 0.5, portableHash = false,
      excludeTag = Some("b7"))
    // ...and must see exactly what a clean first attempt saw
    val clean = Dedup.incrementalLsh(docs, inc, "doc_id", "text",
      numHashes = 64, bands = 16, threshold = 0.5, portableHash = false)
    assert(retried.exceptAll(clean).isEmpty && clean.exceptAll(retried).isEmpty)
    // the hazard is real: WITHOUT the exclusion every doc finds a perfect
    // (1.0) match — its own folded signature, except where an identical-sig
    // base twin with a smaller id wins the tie — and most match THEMSELVES
    val unguarded = Dedup.incrementalLshFromIndex(spark, idx, inc, "doc_id", "text",
      numHashes = 64, bands = 16, threshold = 0.5, portableHash = false)
    assert(unguarded.filter(col("est_jaccard") === 1.0).count() === inc.count())
    assert(unguarded.filter(col("matched_base") === col("doc_id")).count() > 0)
  }

  test("incrementalDupGroups equals a from-scratch recompute, including group merges") {
    import spark.implicits._
    import graft.dedup.Dedup
    def groupsOf(pairs: Seq[(Long, Long)]) =
      Dedup.dupGroups(pairs.toDF("id_a", "id_b"))
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // base: two multi-member groups {1,2,3} and {10,11}, plus {20,21}
    val p0 = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L))
    val g0 = groupsOf(p0)
    // batch: a bridge edge MERGING {1,2,3} with {10,11}; an extension of
    // {20,21}; and a brand-new pair over unseen vertices
    val p1 = Seq((3L, 10L), (21L, 22L), (30L, 31L))
    val inc = asMap(Dedup.incrementalDupGroups(g0, p1.toDF("id_a", "id_b")))
    val full = asMap(groupsOf(p0 ++ p1))
    assert(inc === full)
    assert(inc(11L) === 1L) // the merge really relabeled the other group
    // untouched groups must pass through by reference, not recompute:
    // an empty batch leaves the map identical
    val noop = asMap(Dedup.incrementalDupGroups(g0,
      Seq.empty[(Long, Long)].toDF("id_a", "id_b")))
    assert(noop === asMap(g0))
  }

  test("dd15 corpus-level: the incremental update equals recomputing groups from all edges") {
    import graft.dedup.Dedup
    val base = docs
    val basePairs = Dedup.minhashLsh(base, "doc_id", "text",
      numHashes = 64, bands = 16, threshold = 0.5, portableHash = false)
    val baseGroups = Dedup.dupGroups(basePairs)
    val batch = incBatch.localCheckpoint(true)
    val newPairs = Dedup.incrementalLshPairs(base, batch, "doc_id", "text",
        numHashes = 64, bands = 16, threshold = 0.5, portableHash = false)
      .select(col("id_a"), col("id_b"))
      .unionByName(Dedup.minhashLsh(batch, "doc_id", "text",
          numHashes = 64, bands = 16, threshold = 0.5, portableHash = false)
        .select(col("id_a"), col("id_b")))
    val inc = Dedup.incrementalDupGroups(baseGroups, newPairs)
    val full = Dedup.dupGroups(basePairs.select(col("id_a"), col("id_b"))
      .unionByName(newPairs))
    assert(inc.exceptAll(full).isEmpty && full.exceptAll(inc).isEmpty)
    assert(inc.count() > 0)
  }

  test("PinnedCaches: release() deterministically unpersists operator-pinned frames") {
    import graft.dedup.Dedup
    graft.ops.PinnedCaches.release(blocking = true)
    assert(graft.ops.PinnedCaches.pinnedCount === 0)
    Dedup.minhashLsh(docs, "doc_id", "text", numHashes = 16, bands = 4,
      threshold = 0.5, portableHash = false).count()
    assert(graft.ops.PinnedCaches.pinnedCount > 0,
      "minhashLsh did not register its signature cache")
    graft.ops.PinnedCaches.release(blocking = true)
    assert(graft.ops.PinnedCaches.pinnedCount === 0)
    // released caches must not break a subsequent call (it re-pins)
    assert(Dedup.minhashLsh(docs, "doc_id", "text", numHashes = 16, bands = 4,
      threshold = 0.5, portableHash = false).count() >= 0)
    graft.ops.PinnedCaches.release(blocking = true)
    // per-session scoping: releasing session B's pins must not touch
    // session A's (the registry is keyed by SparkSession, so a library
    // session owns exactly its own release)
    val sessB = spark.newSession()
    Dedup.minhashLsh(docs, "doc_id", "text", numHashes = 16, bands = 4,
      threshold = 0.5, portableHash = false).count()
    val aPinned = graft.ops.PinnedCaches.pinnedCount
    assert(aPinned > 0)
    Dedup.minhashLsh(sessB.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select(col("doc_id"), col("text")),
      "doc_id", "text", numHashes = 16, bands = 4,
      threshold = 0.5, portableHash = false).count()
    assert(graft.ops.PinnedCaches.pinnedCount > aPinned)
    graft.ops.PinnedCaches.releaseFor(sessB, blocking = true)
    assert(graft.ops.PinnedCaches.pinnedCount === aPinned,
      "releaseFor(sessB) must leave session A's pins intact")
    graft.ops.PinnedCaches.release(blocking = true)
    assert(graft.ops.PinnedCaches.pinnedCount === 0)
  }

  test("dd13/st15 steady-state: warm invocations over the shared per-process index are identical") {
    // both queries now build their base index once per (corpus, process);
    // the property that makes that safe is that a SECOND invocation —
    // index already present, st15 with prior runs' folded partitions in
    // it — produces byte-identical output (dd13: idempotent re-append +
    // same serve; st15: lineage-scoped includeTags prune foreign tags)
    val dir = "/root/testdata/sf0.001"
    def run(q: String): Seq[String] = graft.queries.LlmQueries.defs(q)(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    val d1 = run("dd13_lsh_index_append")
    val d2 = run("dd13_lsh_index_append")
    assert(d1.nonEmpty && d1 === d2)
    val s1 = run("st15_stream_neardup_ingest")
    val s2 = run("st15_stream_neardup_ingest")
    assert(s1.nonEmpty && s1 === s2)
  }

  test("dd15b: the artifact-served fold equals the from-text fold") {
    import graft.dedup.Dedup
    val root = java.nio.file.Files.createTempDirectory("dd15b_spec").toString
    val base = docs
    val basePairs = Dedup.minhashLsh(base, "doc_id", "text",
      numHashes = 64, bands = 16, threshold = 0.5, portableHash = false)
    Dedup.writeLshIndex(base, "doc_id", "text", s"$root/idx",
      numHashes = 64, portableHash = false)
    Dedup.writeGroups(Dedup.dupGroups(basePairs), s"$root/groups")
    val batch = incBatch.localCheckpoint(true)
    def withinBatch = Dedup.minhashLsh(batch, "doc_id", "text",
        numHashes = 64, bands = 16, threshold = 0.5, portableHash = false)
      .select(col("id_a"), col("id_b"))
    // served leg: both edge legs from the index, fold from the artifact
    val served = Dedup.incrementalDupGroups(
      Dedup.readGroups(spark, s"$root/groups"),
      Dedup.incrementalLshPairsFromIndex(spark, s"$root/idx", batch,
          "doc_id", "text", numHashes = 64, bands = 16, threshold = 0.5,
          portableHash = false)
        .select(col("id_a"), col("id_b")).unionByName(withinBatch))
    // from-text leg (the dd15 shape)
    val fromText = Dedup.incrementalDupGroups(Dedup.dupGroups(basePairs),
      Dedup.incrementalLshPairs(base, batch, "doc_id", "text",
          numHashes = 64, bands = 16, threshold = 0.5, portableHash = false)
        .select(col("id_a"), col("id_b")).unionByName(withinBatch))
    assert(served.exceptAll(fromText).isEmpty && fromText.exceptAll(served).isEmpty)
    assert(served.count() > 0)
    // a parameter-mismatched serve must refuse, not deflate silently
    val err = intercept[IllegalArgumentException] {
      Dedup.incrementalLshPairsFromIndex(spark, s"$root/idx", batch,
        "doc_id", "text", numHashes = 16, bands = 4, threshold = 0.5,
        portableHash = false)
    }
    assert(err.getMessage.contains("mismatched parameters"))
  }

  test("incrementalLsh: one row per increment doc; planted near-dups match their source") {
    val inc = incBatch
    val out = Dedup.incrementalLsh(docs, inc, "doc_id", "text",
      numHashes = 64, bands = 16, threshold = 0.5, portableHash = false).cache()
    assert(out.count() === inc.count())
    (0 until 8).foreach { i =>
      val row = out.filter(col("doc_id") === (i + 5000)).head()
      assert(row.getAs[Boolean]("is_dup"), s"planted near-dup ${i + 5000} not flagged")
      assert(row.getAs[Long]("matched_base") === i.toLong,
        s"best match for ${i + 5000} is ${row.getAs[Long]("matched_base")}, expected $i")
    }
    // token-reversed docs share vocabulary but no 3-shingles with their
    // source — they must not match it
    (8 until 16).foreach { i =>
      val row = out.filter(col("doc_id") === (i + 6000)).head()
      assert(row.isNullAt(row.fieldIndex("matched_base")) ||
        row.getAs[Long]("matched_base") != i.toLong,
        s"reversed doc ${i + 6000} matched its own source")
    }
    out.unpersist()
  }

  test("SQ8: a planted identical vector is its source's top neighbor at code distance 0") {
    val emb = sf("embeddings")
    val copies = emb.filter(col("vec_id") < 5)
      .select((col("vec_id") + 100000).as("vec_id"), col("embedding"), col("label"))
    val out = graft.ann.Sq.sqTopK(emb.unionByName(copies), "label", k = 1)
    (0 until 5).foreach { i =>
      val row = out.filter(col("query_id") === (i + 100000)).head()
      assert(row.getAs[Long]("neighbor_id") === i.toLong &&
        row.getAs[Long]("d2") === 0L,
        s"copy ${i + 100000}: got ${row.getAs[Long]("neighbor_id")} d2=${row.getAs[Long]("d2")}")
    }
  }

  test("incrementalLsh bucket guard replicates, never restricts: output invariant to maxBucket") {
    val inc = incBatch
    def run(mb: Int) = Dedup.incrementalLsh(docs, inc, "doc_id", "text",
      numHashes = 64, bands = 16, threshold = 0.5, portableHash = false, maxBucket = mb)
    val roomy = run(1024)
    val tight = run(2) // forces multi-sub-bucket replication on every band
    assert(roomy.exceptAll(tight).isEmpty && tight.exceptAll(roomy).isEmpty)
  }

  test("ann13 semantics: pre-filter delivers k qualifying neighbors where post-filter under-delivers") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val en = docs.filter(col("lang") === "en").select(col("doc_id").as("vec_id"))
    val enIds = en.collect().map(_.getLong(0)).toSet
    val queries = emb.filter(col("vec_id") < 10)
    val k = 5
    // PRE-filter (the operator): every query gets exactly k neighbors, all en
    val pre = graft.ann.Ann.bruteForceTopK(queries,
      emb.join(en, Seq("vec_id"), "left_semi"), k)
    val perQuery = pre.groupBy(col("query_id")).count().collect()
    assert(perQuery.nonEmpty && perQuery.forall(_.getLong(1) === k.toLong))
    assert(pre.collect().forall(r => enIds(r.getAs[Long]("neighbor_id"))))
    // POST-filter (the bug this operator exists to avoid): filtering an
    // unfiltered top-k afterwards must under-deliver for at least one query
    // (some of its k nearest are non-en)
    val post = graft.ann.Ann.bruteForceTopK(queries, emb, k)
      .filter(col("neighbor_id").isin(enIds.toSeq.map(Long.box): _*))
    val postCounts = post.groupBy(col("query_id")).count()
      .collect().map(_.getLong(1))
    assert(postCounts.exists(_ < k),
      "fixture too en-heavy to demonstrate post-filter under-delivery")
  }
}
