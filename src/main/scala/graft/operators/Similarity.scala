package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.cascade.Cascade

/** Similarity search over an embedding column (Array[Float]) — brute-force
  * cosine top-k as the exact baseline and a random-hyperplane-LSH bucketed
  * variant as the 100 TB scale path.
  *
  * Determinism/portability: the dot product is a *sequential left fold* in
  * index order (Spark `aggregate` over `zip_with`; DuckDB `list_reduce`),
  * products are float×float exact in double, so the oracle matches
  * bit-for-bit. The LSH hyperplanes are small-integer-valued (pure function
  * of (plane, dim)), so bucket assignment is exact in both engines.
  */
object Similarity {

  /** Sequential-fold dot product of two float-array columns (exact). */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Exact brute-force top-k cosine neighbors for a (small) query id set:
    * broadcast the queries, cross-score against the corpus, keep the k best
    * per query. The per-query candidate set is ranked with a window over
    * the tiny query-id partitioning (bounded by |queries| × |corpus| rows
    * pre-filter; at scale the LSH variant below prunes candidates first).
    */
  def cosineTopK(df: DataFrame, vecCol: String, idCol: String,
                 queryIds: Seq[Long], k: Int): DataFrame = {
    // precompute each side's norm once: inlining cosine() would evaluate
    // three 64-dim folds per comparison and triple the expression tree.
    // Checkpointed: the normed corpus feeds both the query-side filter and
    // the cross-score scan (two scans sharing one norm pass, as in ivfTopK)
    val corpus = Cascade.materialize(
      df.select(col(idCol), col(vecCol), norm(col(vecCol)).as("_nv")))
    val queries = corpus.filter(col(idCol).isin(queryIds: _*))
      .select(col(idCol).as("query_id"), col(vecCol).as("_qv"), col("_nv").as("_qn"))
    val scored = corpus.crossJoin(broadcast(queries))
      .filter(col(idCol) =!= col("query_id"))
      .withColumn("cos", dot(col("_qv"), col(vecCol)) / (col("_qn") * col("_nv")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(desc("cos"), asc(idCol))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col(idCol).as("neighbor_id"), col("cos"), col("rank"))
  }

  /** Deterministic small-integer hyperplane component for (plane, dim):
    * values in {-3..3}, exact in any engine.
    */
  def planeComponent(p: Int, j: Column): Column =
    pmod(lit(p * 31) + j * 17, lit(7)) - lit(3)

  /** Random-hyperplane LSH bucket id: one sign bit per plane over the
    * integer-valued hyperplanes — the scale path: equal-bucket join
    * replaces the quadratic cross join.
    */
  def lshBucket(vec: Column, nPlanes: Int): Column = {
    val bits = (0 until nPlanes).map { p =>
      val proj = aggregate(
        zip_with(vec, transform(sequence(lit(0), size(vec) - 1),
          j => planeComponent(p, j).cast("double")),
          (x, h) => x.cast("double") * h),
        lit(0.0), (acc, x) => acc + x)
      when(proj >= 0, lit(1 << p)).otherwise(lit(0))
    }
    bits.reduce(_ + _)
  }

  /** IVF (inverted-file) top-k: coarse-quantize every vector to its nearest
    * centroid, probe only the query's `nProbe` closest centroid buckets,
    * then exact cosine within the probed buckets — the classic
    * IVF-Flat scale path (bucket equi-join replaces the full cross join;
    * candidate count drops by ~nCentroids/nProbe).
    *
    * Scale design: centroids are a tiny *collected* dim table (the vectors
    * with the `nCentroids` smallest md5(id) — a deterministic hash sample,
    * independent of corpus insertion order), so the assignment is a pure
    * per-row projection: score the literal centroid array and fold an
    * argmax — ZERO shuffle over the corpus, where a
    * `row_number() over (partition by vec_id)` window would reshuffle every
    * row into its own one-row partition. The final per-query top-k is a
    * two-phase salted rank so one giant probed bucket never lands on a
    * single reducer. Results match the SQL oracle bit-for-bit (double
    * compares, fixed tie order: cos desc, id asc).
    */
  def ivfTopK(df: DataFrame, vecCol: String, idCol: String,
              queryIds: Seq[Long], k: Int,
              nCentroids: Int = 8, nProbe: Int = 2): DataFrame = {
    // norms precomputed once per side (see cosineTopK) and checkpointed:
    // the normed base feeds the centroid hash-sample collect, the corpus
    // assignment pass and the query probes — three scans that would each
    // re-run the interpreted norm fold over every vector
    val base = Cascade.materialize(
      df.select(col(idCol), col(vecCol), norm(col(vecCol)).as("_nv")))
    // deterministic hash sample (not lowest-N ids: recall would depend on
    // corpus order); tiny driver-side collect, ascending id for tie-breaks
    val centRows = base
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
      .limit(nCentroids).collect()
      .sortBy(_.getLong(0))
    val centIds = centRows.map(_.getLong(0))
    val nC = centRows.length
    // an empty corpus has no centroid to assign to, and no neighbour
    if (nC == 0) return base.select(col(idCol).as("query_id"),
      col(idCol).as("neighbor_id"), col("_nv").as("cos"), lit(1).as("rank"))

    // per-centroid cosine columns against a row's (vector, norm): literal
    // centroid arrays compile straight into codegen (broadcast-equivalent)
    def scoreCols(v: Column, nv: Column): Seq[Column] = centRows.zipWithIndex.map {
      case (r, i) =>
        val cv = typedlit(r.getSeq[Float](1).toArray)
        val cn = lit(r.getDouble(2))
        (dot(v, cv) / (nv * cn)).as(s"_c$i")
    }

    // assignment = shuffle-free argmax fold over the scored centroids
    // (ascending cent_id, replace only on strictly greater ⇒ ties pick the
    // smallest id, matching `order by ccos desc, cent_id asc` in the oracle)
    val scored = base.select(Seq(col(idCol), col(vecCol), col("_nv")) ++
      scoreCols(col(vecCol), col("_nv")): _*)
    val bestCent = (1 until nC).foldLeft(lit(centIds(0)): Column) { (best, i) =>
      val prevMax =
        if (i == 1) col("_c0") else greatest((0 until i).map(j => col(s"_c$j")): _*)
      when(col(s"_c$i") > prevMax, lit(centIds(i))).otherwise(best)
    }
    val assigned = scored.withColumn("cent_id", bestCent)
      .select(col(idCol), col(vecCol), col("_nv"), col("cent_id"))

    // queries probe their nProbe nearest centroids: same projection, then a
    // per-row sort of the (−cos, cent_id) structs — still zero shuffle
    val probeArr = array((0 until nC).map(i =>
      struct((-col(s"_c$i")).as("nc"), lit(centIds(i)).as("cent_id"))): _*)
    val probes = base.filter(col(idCol).isin(queryIds: _*))
      .select(Seq(col(idCol).as("query_id"), col(vecCol).as("_qv"), col("_nv").as("_qn")) ++
        scoreCols(col(vecCol), col("_nv")): _*)
      .select(col("query_id"), col("_qv"), col("_qn"),
        explode(slice(sort_array(probeArr), 1, nProbe)).as("_p"))
      .select(col("query_id"), col("_qv"), col("_qn"), col("_p.cent_id").as("cent_id"))

    // exact search within probed buckets only; probes are |queries|·nProbe
    // rows — a genuinely tiny build side, so the broadcast hint is safe
    val cand = assigned.join(broadcast(probes), Seq("cent_id"))
      .filter(col(idCol) =!= col("query_id"))
      .withColumn("cos", dot(col("_qv"), col(vecCol)) / (col("_qn") * col("_nv")))
    // two-phase top-k: per-(query, salt) rank bounds any single partition,
    // then the global rank sees ≤ salt·k rows per query
    val wSalt = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"), col("_salt")).orderBy(desc("cos"), asc(idCol))
    val wGlob = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(desc("cos"), asc(idCol))
    cand.withColumn("_salt", pmod(xxhash64(col(idCol)), lit(32)))
      .withColumn("_r", row_number().over(wSalt)).filter(col("_r") <= k)
      .withColumn("rank", row_number().over(wGlob))
      .filter(col("rank") <= k)
      .select(col("query_id"), col(idCol).as("neighbor_id"), col("cos"), col("rank"))
  }

  /** Bucketed approximate near-duplicate pairs: same LSH bucket
    * (Dedup.bucketed, no cap), then exact cosine confirmation on the
    * Dedup.bucketPairs row (id_a < id_b, cosine >= threshold).
    */
  def annPairs(df: DataFrame, vecCol: String, idCol: String,
               nPlanes: Int = 8, threshold: Double = 0.9): DataFrame = {
    // the bucket assignment is nPlanes interpreted higher-order-function
    // folds per row (plus the norm fold): bucketed runs them once
    val b = Dedup.bucketed(df.select(col(idCol), col(vecCol), norm(col(vecCol)).as("_nv"),
      lshBucket(col(vecCol), nPlanes).as("bucket")), Seq("bucket"), None)
    Dedup.bucketPairs(b, Seq("bucket"), idCol, carry = Seq(vecCol, "_nv"))
      .withColumn("cos", dot(col(s"${vecCol}_a"), col(s"${vecCol}_b")) /
        (col("_nv_a") * col("_nv_b")))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "bucket", "cos")
  }
}
