package graft.queries

import graft.functions.ArrayExpressions.vec_dot
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity-search operators over the `embeddings` table
  * (64-dim float vectors): brute-force cosine top-k (the exact baseline)
  * and random-hyperplane LSH bucketing (the ANN scale path — at 100 TB the
  * bucket join touches only colliding vectors, never the full n² grid).
  *
  * Vector math uses codegen'd `zip_with`/`aggregate` higher-order
  * functions over `array<double>` — no UDFs, no driver-side loops. The
  * LSH plane weights are deterministic literals (fixed LCG seed) emitted
  * identically into the DataFrame plan and the DuckDB oracle.
  */
object SimilarityQueries {

  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "embeddings")
      .withColumn("v", col("embedding").cast("array<double>"))

  private val DIM = 64
  private val PLANES = 8

  /** Deterministic pseudo-random hyperplane weights in [-1, 1), 6-decimal
    * literals so both engines parse the exact same doubles. */
  private[queries] val planes: Seq[Seq[Double]] = {
    var state = 42L
    def next(): Double = {
      state = (state * 1103515245L + 12345L) & 0x7fffffffL
      math.rint((state.toDouble / 0x7fffffffL.toDouble * 2.0 - 1.0) * 1e6) / 1e6
    }
    Seq.fill(PLANES)(Seq.fill(DIM)(next()))
  }

  private def planeCol(p: Seq[Double]): Column = array(p.map(lit): _*)

  /** Literal query vector for the probe/ADC oracle queries — deterministic
    * LCG doubles scaled into the data's per-element range (unit-norm
    * 64-dim vectors have element std 1/8). Inlined identically into the
    * Spark plan and the DuckDB SQL. */
  private[queries] val queryVec: Seq[Double] = lcgVec(2026L, DIM, 0.125)

  /** PQ codebooks for pq_adc_topk: M=8 subspaces × K=4 centroids × 8 dims
    * of deterministic literals. Correctness of encode/ADC doesn't depend
    * on centroid quality, but centroids inside the data's element range
    * keep the argmin non-degenerate (codes actually vary per row). */
  private val M = 8
  private val PQK = 4
  private[queries] val codebooks: Seq[Seq[Seq[Double]]] = {
    val sub = DIM / M
    var state = 7L
    def next(): Double = {
      state = (state * 1103515245L + 12345L) & 0x7fffffffL
      math.rint((state.toDouble / 0x7fffffffL.toDouble * 2.0 - 1.0) * 0.15 * 1e6) / 1e6
    }
    Seq.fill(M)(Seq.fill(PQK)(Seq.fill(sub)(next())))
  }

  /** Literal IVF coarse centroids for sim_ivfpq_topk — quality is
    * irrelevant for correctness (any fixed centroids define valid lists);
    * data-range scale keeps the 4 lists all populated. */
  private val IVFK = 4
  private[queries] val ivfCentroids: Seq[Seq[Double]] =
    (0 until IVFK).map(i => lcgVec(301L + i * 97L, DIM, 0.125))

  private def lcgVec(seed: Long, n: Int, scale: Double): Seq[Double] = {
    var state = seed
    Seq.fill(n) {
      state = (state * 1103515245L + 12345L) & 0x7fffffffL
      math.rint((state.toDouble / 0x7fffffffL.toDouble * 2.0 - 1.0) * scale * 1e6) / 1e6
    }
  }

  /** Codegen'd multiply-accumulate ([[graft.functions.ArrayExpressions
    * .DotProduct]]) — same left-to-right addition order as the
    * aggregate(zip_with(…)) fold it replaces, so the DuckDB oracle's
    * list_aggregate sum stays bit-identical. */
  private def dotCol(a: String, b: String): Column = vec_dot(col(a), col(b))

  /** sim_cosine_topk — exact nearest neighbors of vec_id=0 by cosine:
    * broadcast the query vector, one codegen'd pass over all vectors,
    * TakeOrderedAndProject top-20 (no global sort). */
  def simCosineTopk(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val q = e.filter(col("vec_id") === 0).select(col("v").as("qv"))
    e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= 0)
      .withColumn("cos",
        dotCol("v", "qv") /
          (sqrt(dotCol("v", "v")) * sqrt(dotCol("qv", "qv"))))
      .orderBy(col("cos").desc, col("vec_id"))
      .select(col("vec_id"), col("label"), round(col("cos"), 6).as("cos"))
      .limit(20)
  }

  /** 8-sign-bit bucket id over the `v` column. */
  private def bucketCol: Column =
    planes.zipWithIndex.map { case (p, j) =>
      when(dotCol2(col("v"), planeCol(p)) > 0, lit(1 << j)).otherwise(lit(0))
    }.reduce(_ + _)

  private def dotCol2(a: Column, b: Column): Column = vec_dot(a, b)

  /** sim_lsh_buckets — random-hyperplane LSH: 8 sign bits → bucket id per
    * vector. The signature is the map side of ANN; candidate generation is
    * a groupBy/join on `bucket`. */
  def simLshBuckets(s: SparkSession, dir: String): DataFrame = {
    emb(s, dir)
      .select(col("vec_id"), col("label"), bucketCol.cast("int").as("bucket"))
      .orderBy("vec_id")
  }

  /** sim_lsh_histogram — bucket occupancy (the skew diagnostic for the ANN
    * bucket join: a hot bucket at scale → salting). */
  def simLshHistogram(s: SparkSession, dir: String): DataFrame = {
    emb(s, dir)
      .select(bucketCol.cast("int").as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"))
      .orderBy("bucket")
  }

  /** sim_label_stats — per-label vector statistics (norm mean/min/max):
    * partial-aggregatable, one shuffle of 10 groups. */
  def simLabelStats(s: SparkSession, dir: String): DataFrame =
    emb(s, dir)
      .withColumn("norm", sqrt(dotCol("v", "v")))
      .groupBy("label")
      .agg(count(lit(1)).as("n"),
        round(avg("norm"), 6).as("avg_norm"),
        round(min("norm"), 6).as("min_norm"),
        round(max("norm"), 6).as("max_norm"))
      .orderBy("label")

  /** 4-bit LSH band value from planes [lo, lo+4). */
  private def bandCol(lo: Int): Column =
    planes.slice(lo, lo + 4).zipWithIndex.map { case (p, j) =>
      when(dotCol2(col("v"), planeCol(p)) > 0, lit(1 << j)).otherwise(lit(0))
    }.reduce(_ + _)

  private def cosCol(a: String, b: String) =
    dotCol(a, b) / (sqrt(dotCol(a, a)) * sqrt(dotCol(b, b)))

  /** dedup_embed — embedding-cosine near-duplicate pairs, LSH-bucketed:
    * candidates share a 4-bit hyperplane band (2 bands riding ONE keyed
    * shuffle via the (bandIdx, bandValue) explode — an OR-of-bands
    * predicate degenerates to a nested loop, see
    * TextQueries.dedupLshPairs), then exact cosine ≥ 0.35 confirms. At
    * 100 TB the band join touches only colliding vectors — the candidate
    * count scales with true near-dups (collision p ≈ (1-θ/π)⁴ per band),
    * never n². */
  def dedupEmbed(s: SparkSession, dir: String): DataFrame =
    embedPairs(s, dir).orderBy("id_a", "id_b")

  /** The embedding near-dup pair list WITHOUT the presentation sort —
    * semantic-dedup clustering re-shuffles on its own keys. */
  private def embedPairs(s: SparkSession, dir: String): DataFrame = {
    // INVARIANT the first-band dedup below leans on: exactly TWO bands,
    // and b0/b1 null only together (both derive from the same `v`; the
    // embeddings table has no null vectors, and a null v nulls both dot
    // products). The join predicate (bi = 0 OR b0 ≠ b0) hard-codes both
    // facts — see the matching note in TextQueries.lshPairs.
    val sig = emb(s, dir).select(col("vec_id"), col("v"),
      sqrt(dotCol("v", "v")).as("nrm"),
      bandCol(0).cast("int").as("b0"),
      bandCol(4).cast("int").as("b1"))
      .cache() // scanned 5× (2 join sides × 2 bands + score); one row per vector
    graft.operators.OperatorCaches.register(sig)

    // candidates on the NARROW key relation (ids+bands move through the
    // band shuffle, vectors don't); pairs are UNIQUE BY CONSTRUCTION —
    // each pair is emitted only from its FIRST shared band (bi=0, or bi=1
    // when b0 differs), replacing the old `.distinct()` (an exchange +
    // two hash aggregates over the candidate relation, the op's widest)
    // with one codegen'd predicate in the join. b0 rides the band shuffle
    // as one extra int per row.
    val exploded = sig.select(col("vec_id"), col("b0"),
        posexplode(array(col("b0"), col("b1"))))
      .withColumnRenamed("pos", "bi").withColumnRenamed("col", "bv")
    // vector fetch: both pair sides probe the IDENTICAL (vec_id, v, nrm)
    // projection, one canonical form for both broadcast builds. Spark
    // still builds the second one itself — no exchange reuse in the
    // executed plan (plans/r16/dedup_embed_exec.txt,
    // OPTIMIZATION_r16.md), a recorded negative result; same shape as
    // TextQueries.lshPairs.
    val vec = sig.select(col("vec_id"), col("v"), col("nrm"))
    exploded.as("a").join(exploded.as("b"),
        col("a.bi") === col("b.bi") && col("a.bv") === col("b.bv") &&
        col("a.vec_id") < col("b.vec_id") &&
        (col("a.bi") === 0 || col("a.b0") =!= col("b.b0")))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
      .join(vec.as("fa"), col("id_a") === col("fa.vec_id"))
      .join(vec.as("fb"), col("id_b") === col("fb.vec_id"))
      .select(col("id_a"), col("id_b"),
        round(vec_dot(col("fa.v"), col("fb.v")) /
          (col("fa.nrm") * col("fb.nrm")), 6).as("cos"))
      .filter(col("cos") >= 0.35)
  }

  /** sem_dedup_keep — SemDedup (the embedding-space analogue of MinHash
    * dedup, per Abbas et al. 2023's cluster-then-prune recipe): near-dup
    * pairs from the hyperplane-LSH generator fold into semantic clusters
    * via [[graft.operators.Dedup.connectedComponents]], and only each
    * cluster's representative (the smallest vec_id) survives; unpaired
    * vectors survive by definition. This is the full semantic-dedup
    * pipeline end to end — pair generation, clustering, prune — with the
    * survivor list as the oracle-checked output. Scale shape: the CC runs
    * over the (tiny) pair list; the corpus-sized relation is touched once,
    * by a broadcast-joined prune. */
  def semDedupKeep(s: SparkSession, dir: String): DataFrame = {
    val cc = graft.operators.Dedup.connectedComponents(
      embedPairs(s, dir).select("id_a", "id_b"), "id_a", "id_b")
    emb(s, dir).select(col("vec_id"))
      .join(cc, col("vec_id") === col("id"), "left")
      .filter(coalesce(col("component"), col("vec_id")) === col("vec_id"))
      .select(col("vec_id"))
      .orderBy("vec_id")
  }

  /** sim_ivf_topk — IVF (inverted-file) ANN: coarse centroids (deterministic
    * subset vec_id % 100 = 0), every vector assigned to its nearest centroid
    * (the inverted lists), a query probes only the nprobe=2 nearest lists and
    * brute-forces inside them. The scale path: the assignment is one
    * broadcast-join pass, and the probe reads |2 lists| ≪ n vectors —
    * partition the list table by centroid id and probes become partition
    * pruning. */
  def simIvfTopk(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir).withColumn("nrm", sqrt(dotCol("v", "v")))
    val cent = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("cid"), col("v").as("cv"), col("nrm").as("cnrm"))
    val q = e.filter(col("vec_id") === 0).select(col("v").as("qv"))

    // nearest centroid per vector as ONE aggregation: max over the
    // (ccos, -cid, …) struct is exactly the row_number()=1 row under
    // (ccos DESC, cid ASC) — -cid inverts the tiebreak, and cid is unique
    // so later fields never compare. The window form shuffled and sorted
    // all |vectors|×|centroids| assignment rows (each carrying the 64-dim
    // vector); the aggregate form partial-aggregates map-side and
    // shuffles one row per vector (guide §2.3/§2.4).
    val assigned = e.crossJoin(broadcast(cent))
      .withColumn("ccos", dotCol("v", "cv") / (col("nrm") * col("cnrm")))
      .groupBy(col("vec_id"))
      .agg(max(struct(col("ccos"), (-col("cid")).as("nc"), col("cid"),
        col("label"), col("v"))).as("m"))
      .select(col("vec_id"), col("m.label").as("label"), col("m.v").as("v"),
        col("m.cid").as("cid"))

    val probed = cent.crossJoin(broadcast(q))
      .withColumn("qcos", cosCol("cv", "qv"))
      .orderBy(col("qcos").desc, col("cid"))
      .limit(2)
      .select(col("cid"))

    assigned.join(broadcast(probed), "cid")
      .filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .withColumn("cos", round(cosCol("v", "qv"), 6))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(10)
      .select(col("vec_id"), col("label"), col("cos"))
  }

  /** sim_ann_probe — LSH multiprobe ANN search ([[graft.operators
    * .Similarity.annSearch]]): the literal query hashes to its 8-bit
    * bucket driver-side, probes that bucket plus all 8 one-bit-flip
    * neighbors, and re-ranks by exact cosine inside. No join in the plan
    * at all — a codegen'd bucket filter + TakeOrderedAndProject; at scale
    * the bucket column is the partition key and the 9 probes prune to 9
    * partitions. */
  def simAnnProbe(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir).select(col("vec_id"), col("label"), col("v"))
    graft.operators.Similarity
      .annSearch(e, "v", DIM, queryVec, k = 10, nPlanes = PLANES,
        multiProbe = true, seed = 42L, tieBreak = Seq(col("vec_id")))
      .select(col("vec_id"), col("label"), round(col("cosine"), 6).as("cos"))
  }

  /** pq_adc_topk — product-quantization ADC top-k ([[graft.operators
    * .Similarity.pqEncode]]/[[graft.operators.Similarity.pqSearch]]):
    * encode every vector to 8 2-bit-ish codes against literal codebooks
    * (one codegen'd argmin pass), then score rows by m lookups into the
    * query's literal distance table — the vector column is never read by
    * the scoring scan. The oracle recomputes codes and table lookups in
    * DuckDB from the same literals. */
  def simPqAdcTopk(s: SparkSession, dir: String): DataFrame = {
    val cb = graft.operators.Similarity.PqCodebooks(DIM, M, PQK, codebooks)
    val enc = graft.operators.Similarity.pqEncode(
      emb(s, dir).select(col("vec_id"), col("label"), col("v")), "v", cb)
    graft.operators.Similarity
      .pqSearch(enc, queryVec, cb, k = 10, tieBreak = Seq(col("vec_id")))
      .select(col("vec_id"), col("label"),
        concat_ws(",", col("__pq_code").cast("array<string>")).as("code"),
        round(col("pq_dist2"), 6).as("pq_dist2"))
  }

  /** sim_ivfpq_topk — the IVF-PQ composition ([[graft.operators
    * .Similarity.ivfPqEncode]]/[[graft.operators.Similarity.ivfPqSearch]]):
    * coarse-assign to 4 literal centroids, PQ-encode the residuals, then
    * probe the 2 lists nearest the query and ADC-score codes against the
    * per-list residual distance tables. The scan after encode reads
    * (list, codes) only; the oracle replays assignment, residual codes
    * and the literal tables in DuckDB. */
  def simIvfPqTopk(s: SparkSession, dir: String): DataFrame = {
    val cb = graft.operators.Similarity.PqCodebooks(DIM, M, PQK, codebooks)
    val enc = graft.operators.Similarity.ivfPqEncode(
      emb(s, dir).select(col("vec_id"), col("label"), col("v")),
      "v", ivfCentroids, cb)
    graft.operators.Similarity
      .ivfPqSearch(enc, ivfCentroids, cb, queryVec, k = 10, nProbe = 2,
        tieBreak = Seq(col("vec_id")))
      .select(col("vec_id"), col("label"),
        col("__ivf_list").cast("long").as("list"),
        round(col("pq_dist2"), 6).as("pq_dist2"))
  }

  val all: scala.collection.immutable.ListMap[String, (SparkSession, String) => DataFrame] =
    scala.collection.immutable.ListMap(
    "sim_cosine_topk" -> simCosineTopk _,
    "sim_ivfpq_topk" -> simIvfPqTopk _,
    "sim_lsh_buckets" -> simLshBuckets _,
    "sim_lsh_histogram" -> simLshHistogram _,
    "sim_label_stats" -> simLabelStats _,
    "dedup_embed" -> dedupEmbed _,
    "sem_dedup_keep" -> semDedupKeep _,
    "sim_ivf_topk" -> simIvfTopk _,
    "sim_ann_probe" -> simAnnProbe _,
    "pq_adc_topk" -> simPqAdcTopk _)

  // DuckDB formulations: embeddings cast to DOUBLE[], dot product via
  // list_zip + list_transform + list_aggregate to mirror the fold order.
  private def duckDot(a: String, b: String): String =
    s"list_aggregate(list_transform(list_zip($a, $b), p -> p[1] * p[2]), 'sum')"

  private def duckPlane(p: Seq[Double]): String =
    p.mkString("CAST([", ", ", "] AS DOUBLE[])")

  private def duckCos(a: String, b: String): String =
    s"${duckDot(a, b)} / (sqrt(${duckDot(a, a)}) * sqrt(${duckDot(b, b)}))"

  val oracle: Map[String, String] = {
    val duckBucket = planes.zipWithIndex.map { case (p, j) =>
      s"CASE WHEN ${duckDot("v", duckPlane(p))} > 0 THEN ${1 << j} ELSE 0 END"
    }.mkString(" + ")
    def duckBand(lo: Int) = planes.slice(lo, lo + 4).zipWithIndex.map { case (p, j) =>
      s"CASE WHEN ${duckDot("v", duckPlane(p))} > 0 THEN ${1 << j} ELSE 0 END"
    }.mkString(" + ")

    // sim_ann_probe: the query's bucket + one-bit flips, computed from the
    // same literals the Spark plan uses (annSearch does the identical
    // driver-side arithmetic).
    val qBucket = planes.zipWithIndex.map { case (p, j) =>
      if (p.zip(queryVec).map { case (w, x) => w * x }.sum > 0) 1 << j else 0
    }.sum
    val probes = (qBucket +: (0 until PLANES).map(j => qBucket ^ (1 << j)))
      .mkString(", ")
    val qLit = duckPlane(queryVec)

    // pq_adc_topk: per-subspace distances, first-min-index argmin (the
    // CASE mirrors Spark's array_min over struct(d, i): least distance,
    // ties to the lowest centroid id), then the query's literal ADC table.
    val sub = DIM / M
    def pqSlice(j: Int) = s"v[${j * sub + 1}:${(j + 1) * sub}]"
    def pqDist(j: Int, i: Int) =
      s"list_aggregate(list_transform(list_zip(${pqSlice(j)}, " +
        s"${duckPlane(codebooks(j)(i))}), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum')"
    val pqDistCols = (for (j <- 0 until M; i <- 0 until PQK)
      yield s"${pqDist(j, i)} AS d_${j}_$i").mkString(",\n              ")
    def pqArgmin(j: Int) = {
      val cases = (0 until PQK - 1).map { i =>
        val beats = (i + 1 until PQK).map(x => s"d_${j}_$i <= d_${j}_$x")
        s"WHEN ${beats.mkString(" AND ")} THEN $i"
      }
      s"CASE ${cases.mkString(" ")} ELSE ${PQK - 1} END AS c$j"
    }
    val adcTable: Seq[Seq[Double]] = (0 until M).map { j =>
      val q = queryVec.slice(j * sub, (j + 1) * sub)
      codebooks(j).map(c => q.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum)
    }
    val pqScore = (0 until M)
      .map(j => s"(${adcTable(j).mkString("CAST([", ", ", "] AS DOUBLE[])")})[c$j + 1]")
      .mkString(" + ")

    // sim_ivfpq_topk: coarse argmin over the literal IVF centroids,
    // residual vs the assigned centroid, PQ codes over residual slices,
    // then per-probed-list residual ADC tables — the probed lists and
    // tables come from the IDENTICAL driver-side arithmetic ivfPqSearch
    // runs, so the literals match to the bit.
    def ivfDist(i: Int) =
      s"list_aggregate(list_transform(list_zip(v, ${duckPlane(ivfCentroids(i))}), " +
        "p -> (p[1]-p[2])*(p[1]-p[2])), 'sum')"
    val ivfDistCols = (0 until IVFK).map(i => s"${ivfDist(i)} AS e_$i")
      .mkString(",\n              ")
    val ivfArgmin = {
      val cases = (0 until IVFK - 1).map { i =>
        val beats = (i + 1 until IVFK).map(x => s"e_$i <= e_$x")
        s"WHEN ${beats.mkString(" AND ")} THEN $i"
      }
      s"CASE ${cases.mkString(" ")} ELSE ${IVFK - 1} END"
    }
    val residCase = (0 until IVFK).map(i =>
      s"WHEN $i THEN list_transform(list_zip(v, ${duckPlane(ivfCentroids(i))}), " +
        "p -> p[1]-p[2])").mkString("CASE cl ", " ", " END")
    def rDist(j: Int, i: Int) =
      s"list_aggregate(list_transform(list_zip(r[${j * sub + 1}:${(j + 1) * sub}], " +
        s"${duckPlane(codebooks(j)(i))}), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum')"
    val rDistCols = (for (j <- 0 until M; i <- 0 until PQK)
      yield s"${rDist(j, i)} AS d_${j}_$i").mkString(",\n              ")
    val ivfNearest = ivfCentroids.zipWithIndex
      .map { case (c, i) =>
        (i, c.zip(queryVec).map { case (a, b) => (a - b) * (a - b) }.sum)
      }
      .sortBy(_._2).take(2).map(_._1)
    val listTables: Map[Int, Seq[Seq[Double]]] = ivfNearest.map { l =>
      val qr = queryVec.zip(ivfCentroids(l)).map { case (a, b) => a - b }
      l -> (0 until M).map { j =>
        val q = qr.slice(j * sub, (j + 1) * sub)
        codebooks(j).map(c => q.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum)
      }
    }.toMap
    def listScore(l: Int) = (0 until M)
      .map(j => s"(${listTables(l)(j).mkString("CAST([", ", ", "] AS DOUBLE[])")})[c$j + 1]")
      .mkString(" + ")
    val ivfpqScore = ivfNearest.map(l => s"WHEN $l THEN ${listScore(l)}")
      .mkString("CASE cl ", " ", " END")

    Map(
      "sim_ivfpq_topk" ->
        s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
            a AS (SELECT vec_id, label, v,
              $ivfDistCols
              FROM e),
            b AS (SELECT vec_id, label, v, CAST($ivfArgmin AS INT) AS cl FROM a),
            c AS (SELECT vec_id, label, cl, $residCase AS r
              FROM b WHERE cl IN (${ivfNearest.mkString(", ")})),
            d AS (SELECT vec_id, label, cl,
              $rDistCols
              FROM c),
            enc AS (SELECT vec_id, label, cl,
              ${(0 until M).map(pqArgmin).mkString(",\n              ")}
              FROM d)
            SELECT vec_id, label, CAST(cl AS BIGINT) AS list,
              round($ivfpqScore, 6) AS pq_dist2
            FROM enc ORDER BY $ivfpqScore, vec_id LIMIT 10""",
      "sim_ann_probe" ->
        s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings)
            SELECT vec_id, label, round(${duckCos("v", qLit)}, 6) AS cos
            FROM e
            WHERE CAST($duckBucket AS INT) IN ($probes)
            ORDER BY ${duckCos("v", qLit)} DESC, vec_id
            LIMIT 10""",
      "pq_adc_topk" ->
        s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
            d AS (SELECT vec_id, label,
              $pqDistCols
              FROM e),
            enc AS (SELECT vec_id, label,
              ${(0 until M).map(pqArgmin).mkString(",\n              ")}
              FROM d)
            SELECT vec_id, label,
              concat_ws(',', ${(0 until M).map(j => s"c$j").mkString(", ")}) AS code,
              round($pqScore, 6) AS pq_dist2
            FROM enc ORDER BY $pqScore, vec_id LIMIT 10""",
      "sem_dedup_keep" ->
        s"""WITH RECURSIVE sig AS (
              SELECT vec_id, v, CAST(${duckBand(0)} AS INT) AS b0,
                     CAST(${duckBand(4)} AS INT) AS b1
              FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)),
            cand AS (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                     round(${duckCos("a.v", "b.v")}, 6) AS cos
              FROM sig a JOIN sig b ON a.b0 = b.b0 AND a.vec_id < b.vec_id
              UNION
              SELECT a.vec_id, b.vec_id, round(${duckCos("a.v", "b.v")}, 6)
              FROM sig a JOIN sig b ON a.b1 = b.b1 AND a.vec_id < b.vec_id),
            pairs AS (SELECT id_a, id_b FROM cand WHERE cos >= 0.35),
            edges AS (
              SELECT id_a AS s, id_b AS d FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
            reach AS (
              SELECT s, d FROM edges
              UNION
              SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
            comp AS (
              SELECT s AS id, least(s, min(d)) AS component
              FROM reach GROUP BY s)
            SELECT e.vec_id FROM embeddings e
            LEFT JOIN comp c ON e.vec_id = c.id
            WHERE coalesce(c.component, e.vec_id) = e.vec_id
            ORDER BY vec_id""",
      "dedup_embed" ->
        s"""WITH sig AS (
              SELECT vec_id, v, CAST(${duckBand(0)} AS INT) AS b0,
                     CAST(${duckBand(4)} AS INT) AS b1
              FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)),
            cand AS (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                     round(${duckCos("a.v", "b.v")}, 6) AS cos
              FROM sig a JOIN sig b ON a.b0 = b.b0 AND a.vec_id < b.vec_id
              UNION
              SELECT a.vec_id, b.vec_id, round(${duckCos("a.v", "b.v")}, 6)
              FROM sig a JOIN sig b ON a.b1 = b.b1 AND a.vec_id < b.vec_id)
            SELECT id_a, id_b, cos FROM cand WHERE cos >= 0.35
            ORDER BY id_a, id_b""",
      "sim_ivf_topk" ->
        s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
            cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id % 100 = 0),
            q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
            asg AS (
              SELECT vec_id, label, v, cid FROM (
                SELECT e.vec_id, e.label, e.v, c.cid,
                       row_number() OVER (PARTITION BY e.vec_id
                         ORDER BY ${duckCos("e.v", "c.cv")} DESC, c.cid) AS rn
                FROM e CROSS JOIN cent c)
              WHERE rn = 1),
            probe AS (
              SELECT cid FROM cent CROSS JOIN q
              ORDER BY ${duckCos("cv", "qv")} DESC, cid LIMIT 2)
            SELECT vec_id, label, round(${duckCos("v", "qv")}, 6) AS cos
            FROM asg JOIN probe USING (cid) CROSS JOIN q
            WHERE vec_id <> 0
            ORDER BY cos DESC, vec_id LIMIT 10""",
      "sim_cosine_topk" ->
        s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
            q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
            SELECT vec_id, label,
                   round(${duckDot("v", "qv")} /
                     (sqrt(${duckDot("v", "v")}) * sqrt(${duckDot("qv", "qv")})), 6) AS cos
            FROM e, q WHERE vec_id <> 0
            ORDER BY ${duckDot("v", "qv")} /
                     (sqrt(${duckDot("v", "v")}) * sqrt(${duckDot("qv", "qv")})) DESC, vec_id
            LIMIT 20""",
      "sim_lsh_buckets" ->
        s"""SELECT vec_id, label, CAST($duckBucket AS INT) AS bucket
            FROM (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings)
            ORDER BY vec_id""",
      "sim_lsh_histogram" ->
        s"""SELECT bucket, count(*) AS n FROM (
              SELECT CAST($duckBucket AS INT) AS bucket
              FROM (SELECT embedding::DOUBLE[] AS v FROM embeddings))
            GROUP BY bucket ORDER BY bucket""",
      "sim_label_stats" ->
        s"""SELECT label, count(*) AS n,
            round(avg(norm), 6) AS avg_norm,
            round(min(norm), 6) AS min_norm,
            round(max(norm), 6) AS max_norm
            FROM (SELECT label, sqrt(${duckDot("v", "v")}) AS norm
                  FROM (SELECT label, embedding::DOUBLE[] AS v FROM embeddings))
            GROUP BY label ORDER BY label""")
  }
}
