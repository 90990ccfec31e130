package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * Two paths, per the standard ANN recipe:
  *  - brute-force cosine top-k — the exact baseline; a crossJoin that is the
  *    right answer only when the query side is small (broadcast the queries,
  *    never the corpus).
  *  - random-hyperplane LSH buckets — the scale path: 16-bit signature from
  *    deterministic hash-derived hyperplanes, candidates only within a
  *    bucket (multi-probe by hamming-adjacent buckets would widen recall;
  *    at 100 TB the bucket join shuffles (bucket, id) pairs, never vectors
  *    against vectors all-pairs).
  *
  * Dot products fold left-to-right via `aggregate` in double precision —
  * deterministic on any engine. No UDFs.
  */
object Ann {

  def dot(x: Column, y: Column): Column =
    aggregate(zip_with(x, y, (a, b) => a.cast("double") * b.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** Cosine rounded to 1e-6: the fold order of a float sum differs across
    * engines in the last ulp, so ranking/thresholding on the raw value is
    * irreproducible; 6 decimals is far below any meaningful similarity
    * difference and makes top-k deterministic everywhere (ties broken by
    * neighbor id).
    *
    * Computed by the native codegen'd [[graft.functions.CosineSimilarity]]
    * expression (one fused loop inside whole-stage codegen) rather than the
    * interpreted `aggregate`/`zip_with` chain — bit-identical result, no
    * lambda dispatch or intermediate arrays on the hot path.
    */
  def cosine(x: Column, y: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    round(ColumnBridge.column(graft.functions.CosineSimilarity(
      ColumnBridge.expression(x.cast("array<double>")),
      ColumnBridge.expression(y.cast("array<double>")))), 6)
  }

  /** Exact top-k neighbors for each query vector (brute force; queries are
    * expected to be a small broadcastable set).
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    // spread the probe side: with the query side broadcast, the whole
    // cosine compute runs at the corpus scan's partitioning — one task on
    // a single-row-group parquet file (stats-gated; no-op at real scale)
    val c = graft.ops.Scan.spreadIfStarved(
      corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("c_emb")))
    val scored = broadcast(q).crossJoin(c)
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("q_emb"), col("c_emb")).as("cosine"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Deterministic pseudo-random hyperplane weight for (plane, dim):
    * ±1 from a hash parity — xxhash64 by default, or (portable) the low md5
    * bit, which any engine with md5 reproduces.
    */
  private def planeSign(plane: Int, dimIdx: Column, portable: Boolean): Column = {
    val salted = concat(lit(s"plane$plane"), lit("_"), dimIdx.cast("string"))
    val bit =
      if (portable) conv(substring(md5(salted), 1, 15), 16, 10).cast("long").bitwiseAND(lit(1L))
      else xxhash64(salted).bitwiseAND(lit(1L))
    when(bit === 1L, lit(1.0)).otherwise(lit(-1.0))
  }

  /** Signed projections of `emb` onto each hyperplane, as a `planes`-long
    * double array. Dimension-agnostic: the index sequence follows
    * `size(emb)` so no dimension is silently dropped (and shorter vectors
    * never null the projection).
    */
  private def planeProjections(emb: Column, planes: Int, portable: Boolean): Column =
    array((0 until planes).map { p =>
      aggregate(
        zip_with(emb, sequence(lit(0), size(emb) - 1),
          (v, i) => v.cast("double") * planeSign(p, i, portable)),
        lit(0.0), (acc, v) => acc + v)
    }: _*)

  private def bucketOf(projs: Column, planes: Int): Column =
    (0 until planes)
      .map(p => when(element_at(projs, p + 1) > 0, lit(1L << p)).otherwise(lit(0L)))
      .reduce((a, b) => a.bitwiseOR(b))

  /** LSH bucket id from random-hyperplane signs. */
  def lshBucket(emb: Column, planes: Int = 16, portableHash: Boolean = false): Column =
    bucketOf(planeProjections(emb, planes, portableHash), planes)

  /** LSH-bucketed approximate top-k: candidates share the query's bucket.
    * `probes` = N > 0 widens recall multi-probe style: the query side also
    * visits the N hamming-distance-1 buckets whose hyperplane projection is
    * smallest in magnitude — the bits most likely to be on the wrong side of
    * their plane — in classic query-directed probe order (capped at
    * `planes`). A neighbor lands in exactly one bucket, so no pair is
    * generated twice. The candidate join still shuffles (bucket, id) pairs
    * only — never vectors all-pairs — so the 100 TB story is unchanged, with
    * candidate volume scaled by (1 + probes).
    */
  def lshTopK(emb: DataFrame, k: Int, planes: Int = 8, probes: Int = 0,
      portableHash: Boolean = false): DataFrame = {
    // spread before the projections: the per-plane hashing is the row's
    // dominant CPU (portable mode pays planes x dims md5 calls) and the
    // bucket join's small side broadcasts, so without the spread the whole
    // thing runs at the scan's single-row-group partitioning
    val withBucket = graft.ops.Scan.spreadIfStarved(
      emb.select(col("vec_id"), col("embedding")))
      .select(col("vec_id"), col("embedding"),
        planeProjections(col("embedding"), planes, portableHash).as("projs"))
      .withColumn("bucket", bucketOf(col("projs"), planes))
    // plane indices ordered by |projection| ascending (struct sort: margin
    // first, index tiebreak), turned into single-bit flip masks
    val flipMasks = slice(
      transform(
        array_sort(zip_with(col("projs"), sequence(lit(0), lit(planes - 1)),
          (pr, i) => struct(abs(pr).as("m"), i.as("p")))),
        s => pow(lit(2.0), s.getField("p")).cast("long")),
      1, math.min(math.max(probes, 0), planes))
    val probeBuckets =
      if (probes <= 0) array(col("bucket"))
      else concat(array(col("bucket")),
        transform(flipMasks, m => col("bucket").bitwiseXOR(m)))
    val a = withBucket.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
      explode(probeBuckets).as("bucket"))
    val b = withBucket.select(col("vec_id").as("neighbor_id"), col("embedding").as("c_emb"), col("bucket"))
    val scored = a.join(b, Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("bucket"),
        cosine(col("q_emb"), col("c_emb")).as("cosine"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** IVF-style coarse quantization using an existing block column (e.g. a
    * cluster label): exact search within the probe block only.
    */
  def ivfTopK(emb: DataFrame, blockCol: String, k: Int): DataFrame = {
    // spread the query side — the block join's other side broadcasts and
    // the cosine stage otherwise inherits a 1-task scan (stats-gated)
    val a = graft.ops.Scan.spreadIfStarved(
      emb.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col(blockCol).as("block")))
    val b = emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("c_emb"),
      col(blockCol).as("block"))
    val scored = a.join(b, Seq("block"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("block"),
        cosine(col("q_emb"), col("c_emb")).as("cosine"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }
}
