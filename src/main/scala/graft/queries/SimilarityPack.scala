package graft.queries

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Similarity search over the `embeddings` table (64-dim float vectors).
  *
  *   - s01: brute-force cosine top-k — the exact baseline. O(Q·N) dot
  *     products; at 100 TB this is the per-partition kernel, not the
  *     global plan.
  *   - s02: IVF-style ANN using the precomputed `label` column as the
  *     coarse quantizer cell: each query searches only its own cell
  *     (the classic inverted-file trade: recall for a ~k× fanout cut).
  *   - s03: sign-LSH (random hyperplane) ANN: 8 md5-derived hyperplanes
  *     → 8-bit bucket; candidates share the query's bucket. Fully
  *     deterministic hyperplanes so Spark and the DuckDB oracle build
  *     identical buckets.
  *
  * Float parity: vectors are cast elementwise to double on both
  * engines; dot/norm are LEFT-FOLD sums (Spark `aggregate`, DuckDB
  * `list_reduce`) so both engines execute the identical IEEE sequence —
  * bit-equal cosines — and ranking ties are broken by vec_id. Emitted
  * scores are rounded to e6 integers.
  *
  * Scale posture: top-k per query is a window rank partitioned by query
  * id — shuffle keyed on (query), no global sort; s02/s03 cut the
  * candidate set per query by bucketing before any pairwise math, which
  * is the piece that keeps 100 TB feasible; the hyperplane matrix is a
  * literal broadcast (zero data motion).
  */
object SimilarityPack extends QueryPack {

  private val numQueries = 10 // vec_id < 10 are the query vectors
  private val topK = 5

  /** md5-derived hyperplane weight, identical to the SQL
    * `(('0x' || substr(md5(p || '_' || c), 1, 4))::INT - 32767.5) / 32767.5`. */
  private def planeWeight(p: Int, c: Int): Double = {
    val md = MessageDigest.getInstance("MD5")
    val hex = md.digest(s"${p}_$c".getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
    (Integer.parseInt(hex.substring(0, 4), 16) - 32767.5) / 32767.5
  }

  private val numPlanes = 8
  /** s15's coarser bucketing: the kNN graph wants DENSE buckets. */
  private val knnPlanes = 4
  private val dim = 64

  /** s13's projected dimensionality. */
  private val rpK = 16

  /** md5-parity ±1 entry of the s13 JL projection matrix, row j
    * (output dim), column i (input dim, 1-based). Seeded the same way
    * [[planeWeight]] is, so both engines hold the identical literal. */
  private def rpSign(j: Int, i: Int): Double = {
    val md = MessageDigest.getInstance("MD5")
    val hex = md.digest(s"rp_${j}_$i".getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
    if (Integer.parseInt(hex.substring(0, 1), 16) % 2 == 0) 1.0 else -1.0
  }

  /** Ranks a POST-LIMIT seed relation (single `vec_id` column, ≤ a
    * dozen rows by construction) into (vec_id, cid = 1-based ascending
    * rank) — as a sorted-literal DataFrame built from a bounded driver
    * collect, NOT a `row_number().over(Window.orderBy(...))`. The
    * global-window formulation was semantically fine (the upstream
    * `limit` bounds it) but logged "No Partition Defined for Window"
    * WARNs on every bench run, and a future edit dropping the limit
    * would silently turn it into a real single-partition sort; the
    * collect here is metadata-sized (the same class as GlobalRank's
    * partition-boundary collect) and fails loudly if misused on a
    * data-sized relation. */
  private def seedRanks(s: SparkSession, seeds: DataFrame): DataFrame = {
    import s.implicits._
    val ids = seeds.collect().map(_.getLong(0)).sorted
    require(ids.length <= 64,
      s"seedRanks is for post-limit seed sets, got ${ids.length} rows")
    ids.zipWithIndex.map { case (v, i) => (v, i + 1) }.toSeq
      .toDF("vec_id", "cid")
      .select(col("vec_id"), col("cid").cast("int").as("cid"))
  }

  private def vecD: Column =
    transform(col("embedding"), x => x.cast("double"))

  private def norm(v: Column): Column =
    aggregate(transform(v, x => x * x), lit(0.0), (a, b) => a + b)

  private def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** s14's Lloyd assignment prefix → (vec_id, cid). Package-visible so
    * PlanDump records the stage the round-16 optimization moved (the
    * full query's plan roots at the `nn` checkpoint scan, hiding it).
    *
    * Round 16 (guide §2.4 — remove shuffles outright; r15 verdict item
    * 5): the assignment used to explode each vector to 64
    * (vec_id, dim, u8) rows, shuffle 8|V| partial distances into a
    * groupBy(vec_id, cid), then window per vec_id — the shape s09
    * dropped in r15. Same transfer here: vectors stay un-exploded, the
    * k×64 centroid table rides ONE broadcast row, and the codegen'd
    * `nearest_centroid` kernel replays the window's ORDER BY dist, cid
    * argmin with identical integer math (the DuckDB oracle is
    * unchanged and replays bit-for-bit). Per assignment the only
    * |V|-sized motion left is the cluster-id attach back onto the
    * exact vectors; the explode, the 8|V| distance exchange, and the
    * window exchange are gone. */
  private[graft] def s14Assignment(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val qa = Tables.embeddings(s, d)
      .select(col("vec_id"), vecD.as("v"))
      .withColumn("nrm", sqrt(norm(col("v"))))
      .select(col("vec_id"),
        transform(col("v"), x =>
          round(x / col("nrm") * 127, 0).cast("int") + lit(127)).as("u"))
    // sorted-literal broadcast rank, not a global window — see
    // seedRanks scaladoc (the 8-row collect is bounded by the limit)
    val ids = seedRanks(s,
      qa.select("vec_id").distinct().orderBy("vec_id").limit(8))
    // centroids as ONE row of (cid, cu-array) structs (s09's shape)
    val cents = qa.join(broadcast(ids), "vec_id")
      .groupBy()
      .agg(collect_list(struct(col("cid"), col("u").as("cu")))
        .as("cents"))
    qa.crossJoin(broadcast(cents))
      .select(col("vec_id"),
        graft.functions.GraftFunctions
          .nearestCentroid(col("u"), col("cents"))
          .getField("cid").as("cid"))
  }

  /** Shared SQL prelude: vectors as double lists + norms. */
  private val sqlVecs = """
        e AS (SELECT vec_id, label,
                     list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
              FROM embeddings),
        n AS (SELECT vec_id, label, v,
                     list_reduce(list_transform(v, x -> x*x), (a, b) -> a + b) AS nrm
              FROM e)"""

  private val sqlCos =
    """list_reduce(list_transform(list_zip(q.v, c.v), s -> s[1]*s[2]),
      |                  (acc, x) -> acc + x) / sqrt(q.nrm) / sqrt(c.nrm)""".stripMargin

  /** Shared PQ pipeline for s11/s12/s20/s21/s22: the long-format
    * [0,254]-quantized relation `q` (vec_id, dim, m, u8), the trained
    * sub-codebook `c1` (m, cid, dim, cu8 — one Lloyd round from the 4
    * lowest-vec_id seeds), and the final assignment `a2`
    * (vec_id, m, cid, dist). Integer-exact throughout (s09's
    * discipline) so the DuckDB oracles replay it bit-for-bit.
    *
    * MEMOIZED per (session, dir) like DedupPack's signature relation,
    * and for the same production reason: a PQ index is trained ONCE
    * and then serves many scans — five registered queries ride it, and
    * before the cache each of them (and each Bench repetition) re-ran
    * the explode + two Lloyd passes AND leaked that call's checkpoint
    * blocks to the ContextCleaner. All three relations are eagerly
    * checkpointed so consumers read materialized tables;
    * [[graft.Caches.sweep]] unpins them for long-lived sessions
    * switching corpora. */
  private def pqParts(s: SparkSession,
      d: String): (DataFrame, DataFrame, DataFrame) =
    graft.Caches.memo(s, "similarity.pq:" + d)(buildPqParts(s, d))

  private def buildPqParts(s: SparkSession,
      d: String): (DataFrame, DataFrame, DataFrame) = {
    val base = Tables.embeddings(s, d)
      .select(col("vec_id"), vecD.as("v"))
      .withColumn("nrm", sqrt(norm(col("v"))))
    val q = base
      .select(col("vec_id"), col("nrm"),
        posexplode(col("v")).as(Seq("pos", "x")))
      .select(col("vec_id"), (col("pos") + 1).as("dim"),
        expr("CAST(pos div 16 AS INT)").as("m"),
        (round(col("x") / col("nrm") * 127, 0).cast("int") + lit(127))
          .as("u8"))
      .localCheckpoint(true)
    // seed ranks WITHOUT a global window: the 4 lowest vec_ids are
    // metadata-sized, so collect them (GlobalRank's boundary-collect
    // class — bounded by the limit above, never data-sized) and rank
    // driver-side into a broadcast literal. The old
    // row_number().over(Window.orderBy(...)) was semantically bounded
    // too, but emitted "No Partition Defined for Window" WARNs and
    // would silently become a real single-partition sort if the limit
    // were ever dropped.
    val ids = broadcast(seedRanks(s,
      q.select("vec_id").distinct().orderBy("vec_id").limit(4)))
    val c0 = q.join(broadcast(ids), "vec_id")
      .select(col("cid"), col("m"), col("dim"), col("u8").as("cu8"))
    def assignTo(cent: DataFrame): DataFrame = {
      val dists = q.join(broadcast(cent.drop("m")), "dim")
        .groupBy(col("vec_id"), col("m"), col("cid"))
        .agg(sum((col("u8") - col("cu8")).cast("long")
          * (col("u8") - col("cu8"))).as("dist"))
      val w = Window.partitionBy("vec_id", "m")
        .orderBy(col("dist"), col("cid"))
      dists.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("m"), col("cid"), col("dist"))
    }
    val a1 = assignTo(c0).localCheckpoint(true)
    val c1 = q.join(a1.select("vec_id", "m", "cid"), Seq("vec_id", "m"))
      .groupBy(col("m"), col("cid"), col("dim"))
      .agg(expr("CAST(sum(u8) div count(1) AS INT)").as("cu8"))
      .localCheckpoint(true)
    // a1's blocks are build-only scaffolding — the cached tuple keeps
    // (q, c1, a2); release the intermediate now that c1 materialized
    val a2 = assignTo(c1).localCheckpoint(true)
    graft.Caches.checkpointRdd(a1).foreach(graft.Caches.releaseRdd(_))
    (q, c1, a2)
  }

  /** s11/s12's shared oracle WITH-chain: quantize → seed → one Lloyd
    * round → final assignment (`a2`). */
  private val pqSqlCtes = """
        WITH base AS (SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
               sqrt(list_reduce(list_transform(
                 list_transform(embedding, x -> CAST(x AS DOUBLE)),
                 x -> x * x), (a, b) -> a + b)) AS nrm
             FROM embeddings),
        q AS (SELECT vec_id, i AS dim,
                     CAST((i - 1) // 16 AS INT) AS m,
                     CAST(round(v[i] / nrm * 127) AS INT) + 127 AS u8
              FROM base, range(1, 65) AS r(i)),
        ids AS (SELECT vec_id,
                       CAST(row_number() OVER (ORDER BY vec_id) AS INT) AS cid
                FROM (SELECT DISTINCT vec_id FROM q ORDER BY vec_id LIMIT 4)),
        c0 AS (SELECT ids.cid, q.m, q.dim, q.u8 AS cu8
               FROM q JOIN ids USING (vec_id)),
        a1d AS (SELECT q.vec_id, q.m, c.cid,
                       sum(CAST(q.u8 - c.cu8 AS BIGINT) * (q.u8 - c.cu8)) AS dist
                FROM q JOIN c0 c USING (dim)
                GROUP BY 1, 2, 3),
        a1 AS (SELECT vec_id, m, cid FROM
                 (SELECT vec_id, m, cid,
                         row_number() OVER (PARTITION BY vec_id, m
                           ORDER BY dist, cid) AS rn
                  FROM a1d) WHERE rn = 1),
        c1 AS (SELECT a1.m, a1.cid, q.dim,
                      CAST(sum(q.u8) // count(*) AS INT) AS cu8
               FROM q JOIN a1 ON q.vec_id = a1.vec_id AND q.m = a1.m
               GROUP BY 1, 2, 3),
        a2d AS (SELECT q.vec_id, q.m, c.cid,
                       sum(CAST(q.u8 - c.cu8 AS BIGINT) * (q.u8 - c.cu8)) AS dist
                FROM q JOIN c1 c USING (dim)
                GROUP BY 1, 2, 3),
        a2 AS (SELECT vec_id, m, cid, dist FROM
                 (SELECT vec_id, m, cid, dist,
                         row_number() OVER (PARTITION BY vec_id, m
                           ORDER BY dist, cid) AS rn
                  FROM a2d) WHERE rn = 1)"""

  def queries: Seq[(String, Q)] = Seq(

    // ── Brute-force cosine top-k (exact baseline) ──────────────────────
    "s01_cosine_topk" -> Q(
      run = (s, d) => {
        val e = Tables.embeddings(s, d)
          .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
          .select(col("vec_id"), vecD.as("v"))
          .withColumn("nrm", norm(col("v")))
        val q = e.filter(col("vec_id") < numQueries)
          .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
        val cos = dot(col("qv"), col("v")) / sqrt(col("qn")) / sqrt(col("nrm"))
        val w = Window.partitionBy(col("qid"))
          .orderBy(col("cos").desc, col("vec_id"))
        broadcast(q).join(e, col("qid") =!= col("vec_id"))
          .withColumn("cos", cos)
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= topK)
          .select(col("qid"), col("rank"), col("vec_id").as("neighbor"),
            round(col("cos") * 1000000, 0).cast("long").as("cos_e6"))
          .orderBy("qid", "rank")
      },
      oracle = Some(s"""
        WITH $sqlVecs
        SELECT qid, rank, neighbor, cos_e6 FROM (
          SELECT q.vec_id AS qid, c.vec_id AS neighbor,
                 CAST(round(($sqlCos) * 1000000) AS BIGINT) AS cos_e6,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY ($sqlCos) DESC, c.vec_id) AS rank
          FROM n q JOIN n c ON q.vec_id < $numQueries AND q.vec_id <> c.vec_id)
        WHERE rank <= $topK ORDER BY qid, rank"""),
      bench = true),

    // ── IVF-style ANN: label column as coarse quantizer cell ───────────
    "s02_ivf_label_ann" -> Q(
      run = (s, d) => {
        val e = Tables.embeddings(s, d)
          .select(col("vec_id"), col("label"), vecD.as("v"))
          .withColumn("nrm", norm(col("v")))
        val q = e.filter(col("vec_id") < numQueries)
          .select(col("vec_id").as("qid"), col("label").as("qlabel"),
            col("v").as("qv"), col("nrm").as("qn"))
        val cos = dot(col("qv"), col("v")) / sqrt(col("qn")) / sqrt(col("nrm"))
        val w = Window.partitionBy(col("qid"))
          .orderBy(col("cos").desc, col("vec_id"))
        broadcast(q)
          .join(e, col("qlabel") === col("label") && col("qid") =!= col("vec_id"))
          .withColumn("cos", cos)
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= topK)
          .select(col("qid"), col("rank"), col("vec_id").as("neighbor"),
            round(col("cos") * 1000000, 0).cast("long").as("cos_e6"))
          .orderBy("qid", "rank")
      },
      oracle = Some(s"""
        WITH $sqlVecs
        SELECT qid, rank, neighbor, cos_e6 FROM (
          SELECT q.vec_id AS qid, c.vec_id AS neighbor,
                 CAST(round(($sqlCos) * 1000000) AS BIGINT) AS cos_e6,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY ($sqlCos) DESC, c.vec_id) AS rank
          FROM n q JOIN n c
            ON q.vec_id < $numQueries AND q.label = c.label
           AND q.vec_id <> c.vec_id)
        WHERE rank <= $topK ORDER BY qid, rank""")),

    // ── Brute-force top-k via the native codegen'd expression ──────────
    // Same result set as s01 bit-for-bit (the fused loop accumulates in
    // the same IEEE order as the fold formulation) — same oracle — but
    // one codegen'd kernel instead of three higher-order-function evals.
    "s04_cosine_topk_native" -> Q(
      run = (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val e = Tables.embeddings(s, d)
          .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
          .select(col("vec_id"), col("embedding"))
        val q = e.filter(col("vec_id") < numQueries)
          .select(col("vec_id").as("qid"), col("embedding").as("qv"))
        val w = Window.partitionBy(col("qid"))
          .orderBy(col("cos").desc, col("vec_id"))
        broadcast(q).join(e, col("qid") =!= col("vec_id"))
          .withColumn("cos", graft.functions.GraftFunctions
            .cosineSimilarity(col("qv"), col("embedding")))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= topK)
          .select(col("qid"), col("rank"), col("vec_id").as("neighbor"),
            round(col("cos") * 1000000, 0).cast("long").as("cos_e6"))
          .orderBy("qid", "rank")
      },
      oracle = Some(s"""
        WITH $sqlVecs
        SELECT qid, rank, neighbor, cos_e6 FROM (
          SELECT q.vec_id AS qid, c.vec_id AS neighbor,
                 CAST(round(($sqlCos) * 1000000) AS BIGINT) AS cos_e6,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY ($sqlCos) DESC, c.vec_id) AS rank
          FROM n q JOIN n c ON q.vec_id < $numQueries AND q.vec_id <> c.vec_id)
        WHERE rank <= $topK ORDER BY qid, rank"""),
      bench = true),

    // ── Sign-LSH (random hyperplane) ANN ───────────────────────────────
    "s03_signlsh_ann" -> Q(
      run = (s, d) => {
        val e = Tables.embeddings(s, d)
          .select(col("vec_id"), vecD.as("v"))
          .withColumn("nrm", norm(col("v")))
        // 8-bit bucket: bit p = sign of dot(v, hyperplane_p); planes are
        // md5-derived literals (bit-identical to the SQL twin).
        val bucket = (0 until numPlanes).map { p =>
          val plane = array((0 until dim).map(c => lit(planeWeight(p, c))): _*)
          when(dot(col("v"), plane) >= 0, lit(1 << p)).otherwise(lit(0))
        }.reduce(_ + _)
        val eb = e.withColumn("bucket", bucket)
        val q = eb.filter(col("vec_id") < numQueries)
          .select(col("vec_id").as("qid"), col("v").as("qv"),
            col("nrm").as("qn"), col("bucket").as("qbucket"))
        val cos = dot(col("qv"), col("v")) / sqrt(col("qn")) / sqrt(col("nrm"))
        val w = Window.partitionBy(col("qid"))
          .orderBy(col("cos").desc, col("vec_id"))
        broadcast(q)
          .join(eb, col("qbucket") === col("bucket") && col("qid") =!= col("vec_id"))
          .withColumn("cos", cos)
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= topK)
          .select(col("qid"), col("rank"), col("vec_id").as("neighbor"),
            round(col("cos") * 1000000, 0).cast("long").as("cos_e6"))
          .orderBy("qid", "rank")
      },
      oracle = Some {
        val bucketSql = (0 until numPlanes).map { p =>
          s"""CASE WHEN list_reduce(list_transform(list_zip(v,
             |  list_transform(range(0, $dim),
             |    c -> (('0x' || substr(md5($p || '_' || c), 1, 4))::INT - 32767.5) / 32767.5)),
             |  s -> s[1]*s[2]), (acc, x) -> acc + x) >= 0 THEN ${1 << p} ELSE 0 END""".stripMargin
        }.mkString(" + ")
        s"""
        WITH $sqlVecs,
        nb AS (SELECT vec_id, v, nrm, $bucketSql AS bucket FROM n)
        SELECT qid, rank, neighbor, cos_e6 FROM (
          SELECT q.vec_id AS qid, c.vec_id AS neighbor,
                 CAST(round(($sqlCos) * 1000000) AS BIGINT) AS cos_e6,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY ($sqlCos) DESC, c.vec_id) AS rank
          FROM nb q JOIN nb c
            ON q.vec_id < $numQueries AND q.bucket = c.bucket
           AND q.vec_id <> c.vec_id)
        WHERE rank <= $topK ORDER BY qid, rank"""
      }),

    // ── ANN quality: recall of the sign-LSH index vs the exact top-k ───
    // The evaluation step every ANN deployment needs: join the
    // approximate result against the exact baseline and measure
    // per-query recall. Runs both pipelines (their relations are small
    // rank lists) and compares on (qid, neighbor); recall emitted as a
    // rounded scaled integer.
    "s05_ann_recall" -> Q(
      run = (s, d) => {
        val exact = graft.SparkEntry.queries("s01_cosine_topk")(s, d)
          .select(col("qid"), col("neighbor"))
        val lsh = graft.SparkEntry.queries("s03_signlsh_ann")(s, d)
          .select(col("qid").as("lqid"), col("neighbor").as("lneighbor"))
        exact.join(lsh,
          col("qid") === col("lqid") && col("neighbor") === col("lneighbor"),
          "left")
          .groupBy(col("qid"))
          .agg(count(lit(1)).as("n_exact"),
            count(col("lneighbor")).as("n_hit"))
          .select(col("qid"), col("n_exact"), col("n_hit"),
            round(col("n_hit") * lit(10000.0) / col("n_exact"), 0)
              .cast("long").as("recall_e4"))
          .orderBy("qid")
      },
      oracle = Some {
        val exactSql = s"""
          SELECT qid, neighbor FROM (
            SELECT q.vec_id AS qid, c.vec_id AS neighbor,
                   row_number() OVER (PARTITION BY q.vec_id
                     ORDER BY ($sqlCos) DESC, c.vec_id) AS rank
            FROM n q JOIN n c ON q.vec_id < $numQueries AND q.vec_id <> c.vec_id)
          WHERE rank <= $topK"""
        val bucketSql = (0 until numPlanes).map { p =>
          s"""CASE WHEN list_reduce(list_transform(list_zip(v,
             |  list_transform(range(0, $dim),
             |    c -> (('0x' || substr(md5($p || '_' || c), 1, 4))::INT - 32767.5) / 32767.5)),
             |  s -> s[1]*s[2]), (acc, x) -> acc + x) >= 0 THEN ${1 << p} ELSE 0 END""".stripMargin
        }.mkString(" + ")
        val lshSql = s"""
          SELECT qid, neighbor FROM (
            SELECT q.vec_id AS qid, c.vec_id AS neighbor,
                   row_number() OVER (PARTITION BY q.vec_id
                     ORDER BY ($sqlCos) DESC, c.vec_id) AS rank
            FROM nb q JOIN nb c
              ON q.vec_id < $numQueries AND q.bucket = c.bucket
             AND q.vec_id <> c.vec_id)
          WHERE rank <= $topK"""
        s"""
        WITH $sqlVecs,
        nb AS (SELECT vec_id, v, nrm, $bucketSql AS bucket FROM n),
        exact AS ($exactSql),
        lsh AS ($lshSql)
        SELECT e.qid, count(*) AS n_exact, count(l.neighbor) AS n_hit,
               CAST(round(count(l.neighbor) * 10000.0 / count(*)) AS BIGINT) AS recall_e4
        FROM exact e LEFT JOIN lsh l
          ON e.qid = l.qid AND e.neighbor = l.neighbor
        GROUP BY e.qid ORDER BY e.qid"""
      }),

    // ── Deterministic seeded sampling (content-stable hash gate) ───────
    // A seeded 20% Bernoulli sample of the vector corpus, counted per
    // label. Through round 7 this used Spark's RNG sampler — seeded, so
    // stable WITHIN Spark, but engine-RNG-specific, so it was the one
    // registered query outside the oracle gate (rows-only check). The
    // production technique is better anyway: gate on a content-stable
    // hash of (seed, key) — md5('42_' || vec_id) mod 100 < 20 — which is
    // reproducible across engines, runs, partitionings, and re-shards
    // (p03/p05's split/stratify gate with the seed folded into the hash
    // input; change the seed string → an independent 20% draw). RNG
    // sampling additionally breaks under repartition or speculative
    // re-execution ordering at cluster scale; a hash gate cannot. One
    // narrow map + one tiny agg; the filter runs scan-side.
    "s06_seeded_sample" -> Q(
      run = (s, d) => {
        val bucket = conv(substring(
          md5(concat(lit("42_"), col("vec_id").cast("string"))), 1, 8),
          16, 10).cast("long") % 100
        Tables.embeddings(s, d)
          .filter(bucket < 20)
          .groupBy(col("label"))
          .agg(count(lit(1)).as("n"))
          .orderBy("label")
      },
      oracle = Some("""
        SELECT label, count(*) AS n
        FROM (SELECT label,
                     ('0x' || substr(md5('42_' || CAST(vec_id AS VARCHAR)),
                       1, 8))::BIGINT % 100 AS b
              FROM embeddings)
        WHERE b < 20
        GROUP BY 1 ORDER BY label""")),

    // ── Per-label centroids (the training half of IVF) ─────────────────
    // s02 searches within label cells; this computes the cell centroids:
    // posexplode to (label, dim, x), one hash aggregate. Per-element
    // values are rounded to scaled ints BEFORE summing so the sum is
    // order-independent under any partitioning (a raw float mean would
    // hash-differ run to run); the final mean divides two exact ints in
    // IEEE doubles — deterministic in both engines.
    "s07_label_centroids" -> Q(
      run = (s, d) =>
        Tables.embeddings(s, d)
          .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
          .groupBy(col("label"), (col("pos") + 1).as("dim"))
          .agg(sum(round(col("x").cast("double") * 1000000, 0).cast("long"))
            .as("sum_e6"), count(lit(1)).as("n"))
          .select(col("label"), col("dim"),
            round(col("sum_e6").cast("double") / col("n"), 0).cast("long")
              .as("centroid_e6"))
          .orderBy("label", "dim"),
      oracle = Some("""
        SELECT label, i AS dim,
               CAST(round(CAST(sum(CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT)) AS DOUBLE)
                    / count(*)) AS BIGINT) AS centroid_e6
        FROM embeddings, range(1, 65) AS r(i)
        GROUP BY 1, 2 ORDER BY label, dim""")),

    // ── Unit-normalize + int8 quantize (storage/serving path) ──────────
    // The standard embedding-store compaction: L2-normalize, then map
    // each coordinate to round(x/‖v‖·127) ∈ [-127,127] — int8 storage is
    // 4× smaller and dot products stay within ~1% of float. Norm is a
    // sequential left-fold of exact float→double squares (the same
    // deterministic pattern d05/s01 rely on), so both engines quantize
    // identically. Narrow map + explode — embarrassingly parallel.
    "s08_embed_quantize" -> Q(
      run = (s, d) => {
        val e = Tables.embeddings(s, d)
          .select(col("vec_id"),
            transform(col("embedding"), x => x.cast("double")).as("v"))
          .withColumn("nrm", sqrt(aggregate(
            transform(col("v"), x => x * x), lit(0.0), (a, b) => a + b)))
        e.select(col("vec_id"), col("nrm"),
            posexplode(col("v")).as(Seq("pos", "x")))
          .select(col("vec_id"), (col("pos") + 1).as("dim"),
            round(col("x") / col("nrm") * 127, 0).cast("int").as("q8"))
          .orderBy("vec_id", "dim")
      },
      oracle = Some("""
        WITH n AS (SELECT vec_id,
                          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
                          sqrt(list_reduce(list_transform(
                            list_transform(embedding, x -> CAST(x AS DOUBLE)),
                            x -> x * x), (a, b) -> a + b)) AS nrm
                   FROM embeddings)
        SELECT vec_id, i AS dim,
               CAST(round(v[i] / nrm * 127) AS INT) AS q8
        FROM n, range(1, 65) AS r(i)
        ORDER BY vec_id, dim""")),

    // ── Integer-exact k-means (corpus clustering for curation) ─────────
    // Lloyd's algorithm, k = 8, 2 iterations, over the s08 int8
    // quantization SHIFTED to [0, 254] — with non-negative values,
    // centroid averaging by integer division is floor in both engines
    // (negatives would truncate differently), distances are unchanged
    // by the shift, and every step is exact integer arithmetic, so
    // DuckDB replays the whole clustering bit-for-bit as unrolled CTEs.
    // Seeds = the 8 lowest vec_ids; argmin ties break by centroid id.
    // Scale posture: this is THE k-means shape at 100 TB — only the
    // k×64 centroid table moves (broadcast each round); the quantized
    // long-format relation is checkpointed once; per-round work is one
    // map-side-partial groupBy(vec, cid) and one groupBy(cid, dim).
    // Empty clusters would simply drop out (deterministic both sides).
    "s09_int_kmeans" -> Q(
      run = (s, d) => {
        // Round 15 (guide §2.4 — remove shuffles outright): Lloyd
        // rounds used to shuffle 8|V| partial rows into a
        // groupBy(vec, cid) AND 8|V| full rows into a per-vec window
        // just to pick each vector's nearest of EIGHT centroids. The
        // k×64 centroid table is metadata-sized, so the argmin belongs
        // map-side: quantized vectors stay un-exploded (one array row
        // per vec, cut once), centroids ride ONE broadcast row (the
        // Hits/p01 scalar-injection pattern). Per round the only
        // |V|-proportional shuffle left is the centroid update's
        // map-side-collapsed (cid, dim) partials (≤ k·dims rows per
        // task); the two 8|V| exchanges and the per-round lineage cut
        // are gone.
        // Round 16 (guide §1.2 step 2 — per-task work): the r15 argmin
        // was `array_min(transform(... zip_with ... aggregate ...))` —
        // higher-order functions are CodegenFallback, so the hot path
        // ran interpreted per row × k × dims and regressed s09 at
        // bench scale (+24% norm). `nearest_centroid` is the same
        // (dist, cid) lexicographic argmin with the same int-exact
        // Σ(u−cu)² as one fused whole-stage-codegen loop.
        graft.functions.GraftFunctions.register(s)
        val qa = Tables.embeddings(s, d)
          .select(col("vec_id"),
            transform(col("embedding"), x => x.cast("double")).as("v"))
          .withColumn("nrm", sqrt(aggregate(
            transform(col("v"), x => x * x), lit(0.0), (a, b) => a + b)))
          .select(col("vec_id"),
            transform(col("v"), x =>
              round(x / col("nrm") * 127, 0).cast("int") + lit(127))
              .as("u"))
          .localCheckpoint(true)
        graft.Caches.trackCut(qa)
        // sorted-literal broadcast rank, not a global window — see
        // seedRanks scaladoc (the 8-row collect is bounded by the limit)
        val ids = broadcast(seedRanks(s,
          qa.select("vec_id").distinct().orderBy("vec_id").limit(8)))
        // centroids as ONE row of (cid, cu8-array) structs; order
        // inside the array is irrelevant (argmin is order-independent)
        var cents = qa.join(ids, "vec_id")
          .groupBy()
          .agg(collect_list(struct(col("cid"), col("u").as("cu")))
            .as("cents"))
        var assign: DataFrame = null
        for (_ <- 1 to 2) {
          assign = qa.crossJoin(broadcast(cents))
            .select(col("vec_id"), col("u"),
              graft.functions.GraftFunctions
                .nearestCentroid(col("u"), col("cents")).as("m"))
            .select(col("vec_id"), col("u"),
              col("m").getField("cid").as("cid"),
              col("m").getField("dist").as("dist"))
          // integer-mean update, dimension-generic: explode collapses
          // map-side to ≤ k·dims partial rows per task; the per-cid
          // array re-assembly and the 1-row collect are metadata-sized
          cents = assign
            .select(col("cid"), posexplode(col("u")).as(Seq("pos", "x")))
            .groupBy(col("cid"), col("pos"))
            .agg(expr("CAST(sum(x) div count(1) AS INT)").as("cu"))
            .groupBy(col("cid"))
            .agg(array_sort(collect_list(struct(col("pos"), col("cu"))))
              .as("ps"))
            .select(col("cid"),
              transform(col("ps"), p => p.getField("cu")).as("cu"))
            .groupBy()
            .agg(collect_list(struct(col("cid"), col("cu"))).as("cents"))
        }
        assign
          .select(col("vec_id"), col("cid").as("cluster"), col("dist"))
          .orderBy("vec_id")
      },
      oracle = Some("""
        WITH base AS (SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
               sqrt(list_reduce(list_transform(
                 list_transform(embedding, x -> CAST(x AS DOUBLE)),
                 x -> x * x), (a, b) -> a + b)) AS nrm
             FROM embeddings),
        q AS (SELECT vec_id, i AS dim,
                     CAST(round(v[i] / nrm * 127) AS INT) + 127 AS u8
              FROM base, range(1, 65) AS r(i)),
        ids AS (SELECT vec_id,
                       CAST(row_number() OVER (ORDER BY vec_id) AS INT) AS cid
                FROM (SELECT DISTINCT vec_id FROM q ORDER BY vec_id LIMIT 8)),
        c0 AS (SELECT ids.cid, q.dim, q.u8 AS cu8
               FROM q JOIN ids USING (vec_id)),
        a1d AS (SELECT q.vec_id, c.cid,
                       sum(CAST(q.u8 - c.cu8 AS BIGINT) * (q.u8 - c.cu8)) AS dist
                FROM q JOIN c0 c USING (dim) GROUP BY 1, 2),
        a1 AS (SELECT vec_id, cid FROM
                 (SELECT vec_id, cid,
                         row_number() OVER (PARTITION BY vec_id
                           ORDER BY dist, cid) AS rn
                  FROM a1d) WHERE rn = 1),
        c1 AS (SELECT a1.cid, q.dim,
                      CAST(sum(q.u8) // count(*) AS INT) AS cu8
               FROM q JOIN a1 USING (vec_id) GROUP BY 1, 2),
        a2d AS (SELECT q.vec_id, c.cid,
                       sum(CAST(q.u8 - c.cu8 AS BIGINT) * (q.u8 - c.cu8)) AS dist
                FROM q JOIN c1 c USING (dim) GROUP BY 1, 2),
        a2 AS (SELECT vec_id, cid, dist FROM
                 (SELECT vec_id, cid, dist,
                         row_number() OVER (PARTITION BY vec_id
                           ORDER BY dist, cid) AS rn
                  FROM a2d) WHERE rn = 1)
        SELECT vec_id, cid AS cluster, CAST(dist AS BIGINT) AS dist
        FROM a2 ORDER BY vec_id"""),
      benchIter = true),

    // ── Distributed Gram matrix (PCA / whitening prep) ─────────────────
    // The linear-algebra primitive behind PCA, whitening, and dense
    // least-squares over an embedding table: G = Σ_rows v·vᵀ. The naive
    // distributed mistake is shuffling vectors to pair dimensions; the
    // scale shape (what MLlib's RowMatrix.computeGramian does with
    // treeAggregate) is that G is a SUM of per-row outer products, so
    // it partial-aggregates: each task folds its rows into d(d+1)/2
    // local sums and the exchange carries one 2080-cell matrix per
    // task, never data. Expressed declaratively: two chained
    // posexplodes manufacture each row's upper-triangle products
    // in-pipeline (inside the scan stage, like t13's n-grams), and ONE
    // two-phase hash aggregate on (i, j) does the fold — the same
    // partial-agg guarantee, Catalyst-visible. Elements are quantized
    // to exact int (round(x·127)) so the fold is order-independent and
    // oracle-hashable; a float Gram would be merge-order-dependent.
    "s10_gram_matrix" -> Q(
      run = (s, d) => {
        val q = transform(col("embedding"),
          x => round(x.cast("double") * 127, 0).cast("long"))
        Tables.embeddings(s, d)
          .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
          .select(q.as("q"))
          .select(col("q"), posexplode(col("q")).as(Seq("i", "qi")))
          .select(col("i"), col("qi"),
            posexplode(slice(col("q"), col("i") + 1, size(col("q")) - col("i")))
              .as(Seq("jr", "qj")))
          .groupBy(col("i").cast("long").as("i"),
            (col("i") + col("jr")).cast("long").as("j"))
          .agg(sum(col("qi") * col("qj")).as("g"))
          .orderBy("i", "j")
      },
      oracle = Some("""
        WITH q AS (SELECT list_transform(embedding,
                     x -> CAST(round(CAST(x AS DOUBLE) * 127) AS BIGINT)) AS q
                   FROM embeddings)
        SELECT i, j, CAST(sum(q[i + 1] * q[j + 1]) AS BIGINT) AS g
        FROM q, range(0, 64) AS r1(i), range(0, 64) AS r2(j)
        WHERE j >= i
        GROUP BY 1, 2 ORDER BY i, j""")),

    // ── Product quantization (PQ codebook + encode) ────────────────────
    // The vector-compression path IVF (s02) composes with at serving
    // scale: split the 64-dim space into M=4 subspaces of 16 dims,
    // k-means each subspace independently (k=4 here; 256 in production
    // = 1 byte/subspace), and store each vector as its M nearest
    // sub-centroid ids — 64 floats become 4 small ints (32× smaller),
    // and a query scans CODES with per-subspace distance-table lookups
    // instead of touching raw vectors. Everything reuses s08/s09's
    // exact-integer discipline ([0,254]-shifted int8, integer-division
    // centroid means, argmin ties by centroid id), so DuckDB replays
    // training + encoding bit-for-bit as unrolled CTEs. Output: each
    // vector's per-subspace code and quantization error.
    // Scale posture: the codebook is M×k×16 ints (broadcast, KBs); the
    // long-format (vec,dim) relation is checkpointed once; each Lloyd
    // round is one broadcast join + two map-side-partial aggregates —
    // the corpus shuffles CODES (4 ints/vector), never vectors.
    "s11_pq_encode" -> Q(
      run = (s, d) => {
        val (_, _, a2) = pqParts(s, d)
        a2.select(col("vec_id"), col("m"), col("cid").as("code"),
            col("dist").as("qerr"))
          .orderBy("vec_id", "m")
      },
      oracle = Some(pqSqlCtes + """
        SELECT vec_id, m, cid AS code, CAST(dist AS BIGINT) AS qerr
        FROM a2 ORDER BY vec_id, m""")),

    // ── PQ asymmetric-distance top-k (the serving scan) ────────────────
    // What a PQ index is FOR: a query never touches vectors — it builds
    // one (M×k) integer distance table against the codebook, then the
    // corpus scan is sum-of-4-lookups per vector over the CODES
    // relation. Query vectors = the 3 lowest vec_ids, exact u8
    // subvectors; approx distance = Σ_m td[m, code_m(v)]; top-5 per
    // query, ties by vec_id, self excluded. All integer arithmetic —
    // the oracle replays table build and scan exactly.
    // Scale posture: td is qids×M×k cells (broadcast, KBs); the only
    // data-sized pass is one broadcast-join over codes (4 ints/vector,
    // 32× smaller than vectors) + a per-query top-k window — s01's
    // brute-force cost envelope divided by the compression ratio, and
    // the same WindowGroupLimit pruning as s01/s04.
    "s12_pq_adc_topk" -> Q(
      run = (s, d) => {
        val (q, c1, a2) = pqParts(s, d)
        val qids = q.select("vec_id").distinct().orderBy("vec_id").limit(3)
          .select(col("vec_id").as("qid"))
        val qsub = q.join(broadcast(qids), col("vec_id") === col("qid"))
          .select(col("qid"), col("dim"), col("u8").as("qu8"))
        val td = qsub.join(broadcast(c1), "dim")
          .groupBy(col("qid"), col("m"), col("cid"))
          .agg(sum((col("qu8") - col("cu8")).cast("long")
            * (col("qu8") - col("cu8"))).as("td"))
        val adist = a2.select(col("vec_id"), col("m"), col("cid"))
          .join(broadcast(td), Seq("m", "cid"))
          .groupBy(col("qid"), col("vec_id"))
          .agg(sum(col("td")).as("adist"))
          .filter(col("qid") =!= col("vec_id"))
        val w = Window.partitionBy("qid")
          .orderBy(col("adist"), col("vec_id"))
        adist.withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 5)
          .select(col("qid"), col("rank"), col("vec_id"), col("adist"))
          .orderBy("qid", "rank")
      },
      oracle = Some(pqSqlCtes + """,
        qids AS (SELECT DISTINCT vec_id AS qid FROM q ORDER BY qid LIMIT 3),
        qsub AS (SELECT qids.qid, q.dim, q.m, q.u8 AS qu8
                 FROM q JOIN qids ON q.vec_id = qids.qid),
        td AS (SELECT qsub.qid, qsub.m, c.cid,
                      sum(CAST(qsub.qu8 - c.cu8 AS BIGINT)
                        * (qsub.qu8 - c.cu8)) AS td
               FROM qsub JOIN c1 c USING (dim)
               GROUP BY 1, 2, 3),
        adist AS (SELECT td.qid, a2.vec_id, sum(td.td) AS adist
                  FROM a2 JOIN td ON a2.m = td.m AND a2.cid = td.cid
                  GROUP BY 1, 2),
        ranked AS (SELECT qid, vec_id, adist,
                          row_number() OVER (PARTITION BY qid
                            ORDER BY adist, vec_id) AS rank
                   FROM adist WHERE qid <> vec_id)
        SELECT qid, CAST(rank AS INT) AS rank, vec_id,
               CAST(adist AS BIGINT) AS adist
        FROM ranked WHERE rank <= 5 ORDER BY qid, rank""")),

    // ── Two-stage retrieval: ADC candidates → exact cosine rerank ──────
    // The pattern s19's recall curve prescribes when @1 is poor but @5
    // is fine: let the COMPRESSED index over-fetch (ADC top-20 — cheap,
    // codes only), then score just those candidates exactly (20 raw
    // vectors per query, not the corpus) and keep the exact top-5.
    // Quantization error caps stage-1 RECALL but no longer the final
    // RANKING — the serving quality/cost split every production stack
    // (FAISS + rerank, ColBERT, two-tower + cross-encoder) runs on.
    // Stage 2 reuses s01's IEEE discipline bit-for-bit (left-fold dot,
    // same divide order, e6 rounding, vec_id ties) so DuckDB replays
    // both stages. Scale posture: stage 1 is s12's broadcast code scan;
    // stage 2 joins a qids×20 candidate list (broadcast, KBs) against
    // the vector table on vec_id — per-query exact work is O(20), and
    // raw vectors never shuffle.
    "s21_adc_rerank" -> Q(
      run = (s, d) => {
        val (q, c1, a2) = pqParts(s, d)
        val qids = q.select("vec_id").distinct().orderBy("vec_id").limit(3)
          .select(col("vec_id").as("qid"))
        val qsub = q.join(broadcast(qids), col("vec_id") === col("qid"))
          .select(col("qid"), col("dim"), col("u8").as("qu8"))
        val td = qsub.join(broadcast(c1), "dim")
          .groupBy(col("qid"), col("m"), col("cid"))
          .agg(sum((col("qu8") - col("cu8")).cast("long")
            * (col("qu8") - col("cu8"))).as("td"))
        val adist = a2.select(col("vec_id"), col("m"), col("cid"))
          .join(broadcast(td), Seq("m", "cid"))
          .groupBy(col("qid"), col("vec_id"))
          .agg(sum(col("td")).as("adist"))
          .filter(col("qid") =!= col("vec_id"))
        val w1 = Window.partitionBy("qid")
          .orderBy(col("adist"), col("vec_id"))
        val cand = adist.withColumn("rank", row_number().over(w1))
          .filter(col("rank") <= 20)
          .select(col("qid"), col("vec_id"))
        // stage 2: exact cosine over candidates only — same base
        // relation as pqParts (v double-cast, nrm = sqrt(Σx²) left-fold)
        val e = Tables.embeddings(s, d)
          .select(col("vec_id"), vecD.as("v"))
          .withColumn("nrm", sqrt(norm(col("v"))))
        // query-side vectors SEMI-JOINED to the 3 qids BEFORE broadcast:
        // broadcasting e unfiltered would ship the whole raw-vector
        // table to every executor — the exact corpus-sized broadcast
        // the stage-2 design exists to avoid (caught in review)
        val qv = e.join(broadcast(qids), col("vec_id") === col("qid"))
          .select(col("qid").as("qjid"), col("v").as("qv"),
            col("nrm").as("qn"))
        val rr = broadcast(cand)
          .join(e, "vec_id")
          .join(broadcast(qv), col("qid") === col("qjid"))
          .withColumn("cos", dot(col("qv"), col("v")) / col("qn") / col("nrm"))
        val w2 = Window.partitionBy("qid")
          .orderBy(col("cos").desc, col("vec_id"))
        rr.withColumn("rank", row_number().over(w2))
          .filter(col("rank") <= 5)
          .select(col("qid"), col("rank"), col("vec_id"),
            round(col("cos") * 1000000, 0).cast("long").as("cos_e6"))
          .orderBy("qid", "rank")
      },
      oracle = Some(pqSqlCtes + """,
        qids AS (SELECT DISTINCT vec_id AS qid FROM q ORDER BY qid LIMIT 3),
        qsub AS (SELECT qids.qid, q.dim, q.m, q.u8 AS qu8
                 FROM q JOIN qids ON q.vec_id = qids.qid),
        td AS (SELECT qsub.qid, qsub.m, c.cid,
                      sum(CAST(qsub.qu8 - c.cu8 AS BIGINT)
                        * (qsub.qu8 - c.cu8)) AS td
               FROM qsub JOIN c1 c USING (dim)
               GROUP BY 1, 2, 3),
        adist AS (SELECT td.qid, a2.vec_id, sum(td.td) AS adist
                  FROM a2 JOIN td ON a2.m = td.m AND a2.cid = td.cid
                  GROUP BY 1, 2),
        cand AS (SELECT qid, vec_id FROM
                   (SELECT qid, vec_id,
                           row_number() OVER (PARTITION BY qid
                             ORDER BY adist, vec_id) AS rank
                    FROM adist WHERE qid <> vec_id)
                 WHERE rank <= 20),
        rr AS (SELECT c.qid, c.vec_id,
                      list_reduce(list_transform(list_zip(qb.v, cb.v),
                        s -> s[1]*s[2]), (acc, x) -> acc + x)
                        / qb.nrm / cb.nrm AS cos
               FROM cand c
               JOIN base qb ON qb.vec_id = c.qid
               JOIN base cb ON cb.vec_id = c.vec_id),
        rr2 AS (SELECT qid, vec_id, cos,
                       row_number() OVER (PARTITION BY qid
                         ORDER BY cos DESC, vec_id) AS rank
                FROM rr)
        SELECT qid, CAST(rank AS INT) AS rank, vec_id,
               CAST(round(cos * 1000000) AS BIGINT) AS cos_e6
        FROM rr2 WHERE rank <= 5 ORDER BY qid, rank""")),

    // ── Incremental PQ encode: delta vectors, FROZEN codebook ──────────
    // d07's role for the vector index: production PQ indexes train the
    // codebook once and encode every later ingest batch against it
    // unchanged (retraining would invalidate all previously stored
    // codes — the index would have to be rebuilt corpus-wide). The
    // "new" batch here is vec_id % 7 = 3; only THOSE vectors run the
    // assignment join, the codebook arrives as the same broadcast c1
    // the full build trained, and emitted qerr is the drift signal a
    // pipeline watches to decide when a rebuild is finally due.
    // Scale posture: per-ingest cost is |delta| × (M×k) broadcast
    // lookups — independent of index size, the property that makes
    // daily ingest O(day) instead of O(corpus).
    "s22_pq_delta_encode" -> Q(
      run = (s, d) => {
        val (q, c1, _) = pqParts(s, d)
        val dists = q.filter(col("vec_id") % 7 === 3)
          .join(broadcast(c1.drop("m")), "dim")
          .groupBy(col("vec_id"), col("m"), col("cid"))
          .agg(sum((col("u8") - col("cu8")).cast("long")
            * (col("u8") - col("cu8"))).as("dist"))
        val w = Window.partitionBy("vec_id", "m")
          .orderBy(col("dist"), col("cid"))
        dists.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("vec_id"), col("m"), col("cid").as("code"),
            col("dist").as("qerr"))
          .orderBy("vec_id", "m")
      },
      oracle = Some(pqSqlCtes + """,
        dd AS (SELECT q.vec_id, q.m, c.cid,
                      sum(CAST(q.u8 - c.cu8 AS BIGINT) * (q.u8 - c.cu8)) AS dist
               FROM q JOIN c1 c USING (dim)
               WHERE q.vec_id % 7 = 3
               GROUP BY 1, 2, 3)
        SELECT vec_id, m, cid AS code, CAST(dist AS BIGINT) AS qerr FROM
          (SELECT vec_id, m, cid, dist,
                  row_number() OVER (PARTITION BY vec_id, m
                    ORDER BY dist, cid) AS rn
           FROM dd) WHERE rn = 1 ORDER BY vec_id, m""")),

    // ── IVF-ADC: coarse cell probe × PQ code scan (the full index) ─────
    // The composition s11's scaladoc promises: a real serving index is
    // IVF *and* PQ together (FAISS's IVFADC). The coarse quantizer
    // (the label cell, s02/s07's precedent) prunes WHICH vectors a
    // query scores — nprobe/nlist of the corpus — and PQ compresses
    // WHAT is scanned per survivor — codes, 32× smaller than vectors.
    // s12 alone still scans every code; s02 alone scans raw vectors in
    // the probed cell; this scans codes-in-probed-cell only, the
    // multiplied saving that makes billion-vector serving work.
    // Same 3 queries and integer ADC arithmetic as s12 (so DuckDB
    // replays the whole thing), restricted by qlabel = label; with
    // nprobe=1 the result is s12's ranking filtered to the query's own
    // cell — recall costs what s05/s19 measure, scan cost drops by
    // |cells|. Scale posture: the distance table ⋈ query-label relation
    // is qids×M×k cells (broadcast, KBs); the one data-sized pass is
    // codes ⋈ labels (both narrow, keyed on vec_id) + the broadcast
    // lookup + per-query top-k window — no raw vector ever shuffles.
    "s20_ivf_adc_topk" -> Q(
      run = (s, d) => {
        val (q, c1, a2) = pqParts(s, d)
        val labels = Tables.embeddings(s, d)
          .select(col("vec_id"), col("label"))
        val qids = q.select("vec_id").distinct().orderBy("vec_id").limit(3)
          .select(col("vec_id").as("qid"))
        val qlab = qids.join(labels, col("vec_id") === col("qid"))
          .select(col("qid"), col("label").as("qlabel"))
        val qsub = q.join(broadcast(qids), col("vec_id") === col("qid"))
          .select(col("qid"), col("dim"), col("u8").as("qu8"))
        val td = qsub.join(broadcast(c1), "dim")
          .groupBy(col("qid"), col("m"), col("cid"))
          .agg(sum((col("qu8") - col("cu8")).cast("long")
            * (col("qu8") - col("cu8"))).as("td"))
          .join(broadcast(qlab), "qid")
        val codes = a2.select(col("vec_id"), col("m"), col("cid"))
          .join(labels, "vec_id")
        // rename the lookup side: td's m/cid descend from the same plan
        // as the codes relation (both trace to pqParts' c1), so joining
        // raw references would lean on self-join disambiguation
        val tdr = td.select(col("qid"), col("m").as("tm"),
          col("cid").as("tcid"), col("qlabel"), col("td"))
        val adist = codes
          .join(broadcast(tdr),
            codes("m") === col("tm") && codes("cid") === col("tcid")
              && codes("label") === col("qlabel"))
          .groupBy(col("qid"), codes("vec_id"))
          .agg(sum(col("td")).as("adist"))
          .filter(col("qid") =!= col("vec_id"))
        val w = Window.partitionBy("qid")
          .orderBy(col("adist"), col("vec_id"))
        adist.withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 5)
          .select(col("qid"), col("rank"), col("vec_id"), col("adist"))
          .orderBy("qid", "rank")
      },
      oracle = Some(pqSqlCtes + """,
        lab AS (SELECT vec_id, label FROM embeddings),
        qids AS (SELECT DISTINCT vec_id AS qid FROM q ORDER BY qid LIMIT 3),
        qlab AS (SELECT qids.qid, lab.label AS qlabel
                 FROM qids JOIN lab ON lab.vec_id = qids.qid),
        qsub AS (SELECT qids.qid, q.dim, q.m, q.u8 AS qu8
                 FROM q JOIN qids ON q.vec_id = qids.qid),
        td AS (SELECT qsub.qid, qsub.m, c.cid,
                      sum(CAST(qsub.qu8 - c.cu8 AS BIGINT)
                        * (qsub.qu8 - c.cu8)) AS td
               FROM qsub JOIN c1 c USING (dim)
               GROUP BY 1, 2, 3),
        adist AS (SELECT td.qid, a2.vec_id, sum(td.td) AS adist
                  FROM a2
                  JOIN lab ON a2.vec_id = lab.vec_id
                  JOIN td ON a2.m = td.m AND a2.cid = td.cid
                  JOIN qlab ON qlab.qid = td.qid
                           AND lab.label = qlab.qlabel
                  GROUP BY 1, 2),
        ranked AS (SELECT qid, vec_id, adist,
                          row_number() OVER (PARTITION BY qid
                            ORDER BY adist, vec_id) AS rank
                   FROM adist WHERE qid <> vec_id)
        SELECT qid, CAST(rank AS INT) AS rank, vec_id,
               CAST(adist AS BIGINT) AS adist
        FROM ranked WHERE rank <= 5 ORDER BY qid, rank"""),
      benchHeavy = true),

    // ── Sparse random projection (Johnson–Lindenstrauss) ───────────────
    // Dimensionality reduction for the embedding column: 64-d → 16-d via
    // a dense ±1 matrix (Achlioptas' sparse JL construction with s=1),
    // which preserves pairwise distances within ε ≈ √(8·ln n / k) and
    // replaces 64 multiplies with adds/subtracts. The matrix is
    // md5-seeded ([[rpSign]]) and materializes as 16 LITERAL arrays —
    // a zero-motion broadcast; the projection itself is a narrow
    // per-row map (no shuffle at any scale; the one Exchange in the
    // plan is the final presentation ORDER BY). Downstream, s01's
    // brute-force or s03's LSH runs in the 16-d space at ¼ the flops —
    // s05's recall harness composes to measure what the projection
    // costs. Float parity: left-fold dot (see class doc) on both
    // engines, e6-rounded.
    "s13_random_projection" -> Q(
      run = (s, d) => {
        val e = Tables.embeddings(s, d).select(col("vec_id"), vecD.as("v"))
        val projCols = (0 until rpK).map { j =>
          val r = array((1 to dim).map(i => lit(rpSign(j, i))): _*)
          round(dot(col("v"), r) * 1000000, 0).cast("long")
            .as(f"p$j%02d")
        }
        e.select(col("vec_id") +: projCols: _*).orderBy("vec_id")
      },
      oracle = {
        val cols = (0 until rpK).map { j =>
          val lst = (1 to dim).map(i =>
            if (rpSign(j, i) > 0) "1.0" else "-1.0").mkString("[", ",", "]")
          val name = f"p$j%02d"
          s"""CAST(round(list_reduce(list_transform(list_zip(v, $lst),
             |  s -> s[1]*s[2]), (a,b) -> a+b) * 1000000) AS BIGINT) AS $name"""
            .stripMargin
        }
        Some(s"""
        WITH e AS (SELECT vec_id,
                     list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                   FROM embeddings)
        SELECT vec_id, ${cols.mkString(",\n               ")}
        FROM e ORDER BY vec_id""")
      }),

    // ── SemDeDup: within-cluster semantic dedup ────────────────────────
    // The SemDeDup recipe (Abbas et al. 2023): k-means-cluster the
    // embedding space, then remove near-duplicates ONLY within each
    // cluster cell — the approximation that turns d05's O(n²) semantic
    // dedup into Σ O(|cell|²). Clustering reuses s09's integer-exact
    // machinery (u8-quantized vectors, first-8-ids seed centroids, one
    // assignment pass) so both engines assign identically; the
    // pairwise cosine stage then runs on the EXACT double vectors,
    // joined on the cluster id. Output = the removed vectors with
    // their kept canonical (smallest same-cluster near-dup) —
    // d09's keep-policy applied semantically.
    // Scale shape: the assignment moves only the k×64 centroid table
    // (broadcast); vectors shuffle ONCE keyed by cluster id for the
    // pairwise stage, and all-pairs math is confined to a cell (k
    // grows with N to bound |cell|; balanced k-means caps skew). The
    // plan has no cartesian/BNLJ — PlanSpec pins it.
    "s14_semdedup" -> Q(
      run = (s, d) => {
        val base = Tables.embeddings(s, d)
          .select(col("vec_id"), vecD.as("v"))
          .withColumn("nrm", sqrt(norm(col("v"))))
        val assign = s14Assignment(s, d)
        // Round 15 (guide §2.4): nn feeds BOTH sides of the
        // within-cluster pair join — uncut, the assignment pipeline
        // ran twice. One cut computes the assignment once; both pair
        // sides read blocks.
        val nn = base.join(assign, "vec_id")
          .localCheckpoint(true)
        graft.Caches.trackCut(nn)
        val cos = round(dot(col("a.v"), col("b.v"))
          / col("a.nrm") / col("b.nrm") * 1000000, 0).cast("long")
        nn.as("a").join(nn.as("b"),
            col("a.cid") === col("b.cid")
              && col("a.vec_id") < col("b.vec_id"))
          .select(col("b.vec_id").as("vec_id"), col("b.cid").as("cluster"),
            col("a.vec_id").as("ka"), cos.as("cos_e6"))
          .filter(col("cos_e6") >= 450000)
          .groupBy("vec_id", "cluster")
          .agg(min(col("ka")).as("dup_of"), max(col("cos_e6")).as("max_cos_e6"))
          .orderBy("vec_id")
      },
      oracle = Some("""
        WITH base AS (SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
               sqrt(list_reduce(list_transform(
                 list_transform(embedding, x -> CAST(x AS DOUBLE)),
                 x -> x * x), (a, b) -> a + b)) AS nrm
             FROM embeddings),
        q AS (SELECT vec_id, i AS dim,
                     CAST(round(v[i] / nrm * 127) AS INT) + 127 AS u8
              FROM base, range(1, 65) AS r(i)),
        ids AS (SELECT vec_id,
                       CAST(row_number() OVER (ORDER BY vec_id) AS INT) AS cid
                FROM (SELECT DISTINCT vec_id FROM q ORDER BY vec_id LIMIT 8)),
        c0 AS (SELECT ids.cid, q.dim, q.u8 AS cu8
               FROM q JOIN ids USING (vec_id)),
        ad AS (SELECT q.vec_id, c.cid,
                      sum(CAST(q.u8 - c.cu8 AS BIGINT) * (q.u8 - c.cu8)) AS dist
               FROM q JOIN c0 c USING (dim) GROUP BY 1, 2),
        asn AS (SELECT vec_id, cid FROM
                 (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
                    ORDER BY dist, cid) AS rn FROM ad) WHERE rn = 1),
        nn AS (SELECT b.vec_id, b.v, b.nrm, asn.cid
               FROM base b JOIN asn USING (vec_id)),
        pairs AS (SELECT b.vec_id, b.cid AS cluster, a.vec_id AS ka,
                 CAST(round(list_reduce(list_transform(list_zip(a.v, b.v),
                        s -> s[1]*s[2]), (acc, x) -> acc + x)
                      / a.nrm / b.nrm * 1000000) AS BIGINT) AS cos_e6
                  FROM nn a JOIN nn b ON a.cid = b.cid
                                     AND a.vec_id < b.vec_id)
        SELECT vec_id, cluster, min(ka) AS dup_of, max(cos_e6) AS max_cos_e6
        FROM pairs WHERE cos_e6 >= 450000
        GROUP BY 1, 2 ORDER BY vec_id""")),

    // ── kNN-graph construction (bucketed all-corpus top-k) ─────────────
    // s01/s03 answer "top-k for a small QUERY set" (broadcast queries);
    // this builds the k-nearest-neighbor GRAPH over the WHOLE corpus —
    // the input structure of agglomerative clustering, SemDeDup-style
    // analyses, and graph-based label propagation. 4 sign-LSH planes
    // (coarser than s03's 8: the graph wants dense buckets) bucket the
    // vectors; candidates come from ONE self-equi-join keyed by the
    // bucket — cost Σ|bucket|², never |V|² — and each vector keeps its
    // top-3 by exact cosine via a bounded keyed window. Vectors alone in
    // their bucket emit no edges (the documented LSH trade; more/fewer
    // planes trades recall vs cost — s05 is the measuring harness).
    // At 100 TB: vectors shuffle ONCE keyed by bucket; output is ≤ 3|V|
    // edges, linear in the corpus.
    "s15_knn_graph" -> Q(
      run = (s, d) => {
        val e = Tables.embeddings(s, d)
          .select(col("vec_id"), vecD.as("v"))
          .withColumn("nrm", norm(col("v")))
        val bucket = (0 until knnPlanes).map { p =>
          val plane = array((0 until dim).map(c => lit(planeWeight(p, c))): _*)
          when(dot(col("v"), plane) >= 0, lit(1 << p)).otherwise(lit(0))
        }.reduce(_ + _)
        val eb = e.withColumn("bucket", bucket)
        val q = eb.select(col("vec_id").as("qid"), col("v").as("qv"),
          col("nrm").as("qn"), col("bucket"))
        val cos = dot(col("qv"), col("v")) / sqrt(col("qn")) / sqrt(col("nrm"))
        val w = Window.partitionBy(col("qid"))
          .orderBy(col("cos").desc, col("vec_id"))
        q.join(eb, "bucket")
          .filter(col("qid") =!= col("vec_id"))
          .withColumn("cos", cos)
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 3)
          .select(col("qid"), col("rank"), col("vec_id").as("neighbor"),
            round(col("cos") * 1000000, 0).cast("long").as("cos_e6"))
          .orderBy("qid", "rank")
      },
      oracle = Some {
        val bucketSql = (0 until knnPlanes).map { p =>
          s"""CASE WHEN list_reduce(list_transform(list_zip(v,
             |  list_transform(range(0, $dim),
             |    c -> (('0x' || substr(md5($p || '_' || c), 1, 4))::INT - 32767.5) / 32767.5)),
             |  s -> s[1]*s[2]), (acc, x) -> acc + x) >= 0 THEN ${1 << p} ELSE 0 END""".stripMargin
        }.mkString(" + ")
        s"""
        WITH $sqlVecs,
        nb AS (SELECT vec_id, v, nrm, $bucketSql AS bucket FROM n)
        SELECT qid, rank, neighbor, cos_e6 FROM (
          SELECT q.vec_id AS qid, c.vec_id AS neighbor,
                 CAST(round(($sqlCos) * 1000000) AS BIGINT) AS cos_e6,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY ($sqlCos) DESC, c.vec_id) AS rank
          FROM nb q JOIN nb c
            ON q.bucket = c.bucket AND q.vec_id <> c.vec_id)
        WHERE rank <= 3 ORDER BY qid, rank"""
      }),

    // ── Range (radius) similarity search ───────────────────────────────
    // Top-k's sibling API: return EVERY in-bucket candidate with
    // cosine ≥ τ — the retrieval mode semdedup (s14), near-dup pruning
    // and "all sufficiently-similar evidence" RAG filters actually
    // want, where k is unknowable up front. Same deterministic 4-plane
    // sign-LSH bucketing as the kNN graph (coarse cells so recall
    // stays useful at small corpus sizes); cosines are the s01
    // left-fold IEEE sequence, so the τ comparison lands identically
    // in both engines and the emitted score is e6-rounded. Shape: the
    // bucket equi-join bounds candidates per query before any pairwise
    // math; output is whatever clears τ — no window, no global sort
    // beyond the final metadata-sized ORDER BY. At 100 TB the plan is
    // the s03 story with the rank stage deleted.
    "s16_range_search" -> Q(
      run = (s, d) => {
        val tau = 0.30
        val e = Tables.embeddings(s, d)
          .select(col("vec_id"), vecD.as("v"))
          .withColumn("nrm", norm(col("v")))
        val bucket = (0 until knnPlanes).map { p =>
          val plane = array((0 until dim).map(c => lit(planeWeight(p, c))): _*)
          when(dot(col("v"), plane) >= 0, lit(1 << p)).otherwise(lit(0))
        }.reduce(_ + _)
        val eb = e.withColumn("bucket", bucket)
        val q = eb.filter(col("vec_id") < numQueries)
          .select(col("vec_id").as("qid"), col("v").as("qv"),
            col("nrm").as("qn"), col("bucket"))
        val cos = dot(col("qv"), col("v")) / sqrt(col("qn")) / sqrt(col("nrm"))
        broadcast(q).join(eb, "bucket")
          .filter(col("qid") =!= col("vec_id"))
          .withColumn("cos", cos)
          .filter(col("cos") >= tau)
          .select(col("qid"), col("vec_id").as("cand"),
            round(col("cos") * 1000000, 0).cast("long").as("cos_e6"))
          .orderBy("qid", "cand")
      },
      oracle = Some {
        val bucketSql = (0 until knnPlanes).map { p =>
          s"""CASE WHEN list_reduce(list_transform(list_zip(v,
             |  list_transform(range(0, $dim),
             |    c -> (('0x' || substr(md5($p || '_' || c), 1, 4))::INT - 32767.5) / 32767.5)),
             |  s -> s[1]*s[2]), (acc, x) -> acc + x) >= 0 THEN ${1 << p} ELSE 0 END""".stripMargin
        }.mkString(" + ")
        s"""
        WITH $sqlVecs,
        nb AS (SELECT vec_id, v, nrm, $bucketSql AS bucket FROM n)
        SELECT q.vec_id AS qid, c.vec_id AS cand,
               CAST(round(($sqlCos) * 1000000) AS BIGINT) AS cos_e6
        FROM nb q JOIN nb c
          ON q.vec_id < $numQueries AND q.bucket = c.bucket
         AND q.vec_id <> c.vec_id
        WHERE ($sqlCos) >= 0.30
        ORDER BY qid, cand"""
      }),

    // ── Maximum inner-product search (MIPS top-k) ──────────────────────
    // The retrieval metric recommender/em-retriever serving actually
    // ranks by — raw inner product, NOT cosine: a long (confident,
    // frequently-updated) item vector SHOULD outrank a short one at
    // equal angle, which is exactly what normalization erases. Exact
    // form: the s01 plan with the norm divisions deleted — broadcast
    // query set, one left-fold dot per (query, corpus) pair (identical
    // IEEE sequence both engines), per-query bounded top-k window. At
    // scale MIPS reduces to cosine ANN by norm augmentation (append
    // sqrt(M²−‖v‖²) to corpus vectors, 0 to queries — Bachrach et al.'s
    // trick), after which s03's sign-LSH bucketing applies unchanged;
    // the exact scan here is the recall yardstick for that path, the
    // same role s01 plays for s03.
    "s17_mips_topk" -> Q(
      run = (s, d) => {
        val e = Tables.embeddings(s, d)
          .select(col("vec_id"), vecD.as("v"))
        val q = e.filter(col("vec_id") < numQueries)
          .select(col("vec_id").as("qid"), col("v").as("qv"))
        val w = Window.partitionBy(col("qid"))
          .orderBy(col("ip").desc, col("vec_id"))
        broadcast(q).join(e, col("qid") =!= col("vec_id"))
          .withColumn("ip", dot(col("qv"), col("v")))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= topK)
          .select(col("qid"), col("rank"), col("vec_id").as("neighbor"),
            round(col("ip") * 1000000, 0).cast("long").as("ip_e6"))
          .orderBy("qid", "rank")
      },
      oracle = Some(s"""
        WITH e AS (SELECT vec_id,
                          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                   FROM embeddings)
        SELECT qid, rank, neighbor, ip_e6 FROM (
          SELECT q.vec_id AS qid, c.vec_id AS neighbor,
                 CAST(round((list_reduce(
                   list_transform(list_zip(q.v, c.v), s -> s[1]*s[2]),
                   (acc, x) -> acc + x)) * 1000000) AS BIGINT) AS ip_e6,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY list_reduce(
                     list_transform(list_zip(q.v, c.v), s -> s[1]*s[2]),
                     (acc, x) -> acc + x) DESC, c.vec_id) AS rank
          FROM e q JOIN e c ON q.vec_id < $numQueries AND q.vec_id <> c.vec_id)
        WHERE rank <= $topK ORDER BY qid, rank""")),

    // ── Multi-probe LSH (hamming-radius-1 probing) ─────────────────────
    // Multi-probe LSH (Lv et al., VLDB '07): instead of building more
    // hash tables, each query ALSO probes the buckets one bit-flip
    // away — 1 + 8 probes over the single s03 table recover much of
    // the recall extra tables would buy, at zero extra index storage.
    // Scale shape: probe expansion multiplies the QUERY side only
    // (9 × queries rows — queries are always the small relation); the
    // corpus is bucketed ONCE and the candidate stage stays a
    // bucket-keyed equi-join, pinned never-all-pairs in PlanSpec.
    // Scored per query against the s01 exact top-k with the same
    // yardstick as s05 (which scores single-probe s03) — the two
    // outputs side by side are the measured multi-probe recall lift.
    "s18_multiprobe_lsh" -> Q(
      run = (s, d) => {
        val e = Tables.embeddings(s, d)
          .select(col("vec_id"), vecD.as("v"))
          .withColumn("nrm", norm(col("v")))
        val bucket = (0 until numPlanes).map { p =>
          val plane = array((0 until dim).map(c => lit(planeWeight(p, c))): _*)
          when(dot(col("v"), plane) >= 0, lit(1 << p)).otherwise(lit(0))
        }.reduce(_ + _)
        val eb = e.withColumn("bucket", bucket)
        val probes = (lit(0) +: (0 until numPlanes).map(i => lit(1 << i)))
          .map(m => col("bucket").bitwiseXOR(m))
        val q = eb.filter(col("vec_id") < numQueries)
          .select(col("vec_id").as("qid"), col("v").as("qv"),
            col("nrm").as("qn"),
            explode(array(probes: _*)).as("pbucket"))
        val cos = dot(col("qv"), col("v")) / sqrt(col("qn")) / sqrt(col("nrm"))
        val w = Window.partitionBy(col("qid"))
          .orderBy(col("cos").desc, col("vec_id"))
        val approx = broadcast(q)
          .join(eb, col("pbucket") === col("bucket")
            && col("qid") =!= col("vec_id"))
          .withColumn("cos", cos)
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= topK)
          .select(col("qid").as("aqid"), col("vec_id").as("aneighbor"))
        val exact = graft.SparkEntry.queries("s01_cosine_topk")(s, d)
          .select(col("qid"), col("neighbor"))
        exact.join(approx,
          col("qid") === col("aqid") && col("neighbor") === col("aneighbor"),
          "left")
          .groupBy(col("qid"))
          .agg(count(lit(1)).as("n_exact"),
            count(col("aneighbor")).as("n_hit"))
          .select(col("qid"), col("n_exact"), col("n_hit"),
            round(col("n_hit") * lit(10000.0) / col("n_exact"), 0)
              .cast("long").as("recall_e4"))
          .orderBy("qid")
      },
      oracle = Some {
        val bucketSql = (0 until numPlanes).map { p =>
          s"""CASE WHEN list_reduce(list_transform(list_zip(v,
             |  list_transform(range(0, $dim),
             |    c -> (('0x' || substr(md5($p || '_' || c), 1, 4))::INT - 32767.5) / 32767.5)),
             |  s -> s[1]*s[2]), (acc, x) -> acc + x) >= 0 THEN ${1 << p} ELSE 0 END""".stripMargin
        }.mkString(" + ")
        val probeList = ("bucket" +: (0 until numPlanes)
          .map(i => s"xor(bucket, ${1 << i})")).mkString("[", ", ", "]")
        val exactSql = s"""
          SELECT qid, neighbor FROM (
            SELECT q.vec_id AS qid, c.vec_id AS neighbor,
                   row_number() OVER (PARTITION BY q.vec_id
                     ORDER BY ($sqlCos) DESC, c.vec_id) AS rank
            FROM n q JOIN n c ON q.vec_id < $numQueries AND q.vec_id <> c.vec_id)
          WHERE rank <= $topK"""
        val mpSql = s"""
          SELECT qid, neighbor FROM (
            SELECT q.vec_id AS qid, c.vec_id AS neighbor,
                   row_number() OVER (PARTITION BY q.vec_id
                     ORDER BY ($sqlCos) DESC, c.vec_id) AS rank
            FROM qp q JOIN nb c
              ON q.pbucket = c.bucket AND q.vec_id <> c.vec_id)
          WHERE rank <= $topK"""
        s"""
        WITH $sqlVecs,
        nb AS (SELECT vec_id, v, nrm, $bucketSql AS bucket FROM n),
        qp AS (SELECT vec_id, v, nrm, unnest($probeList) AS pbucket
               FROM nb WHERE vec_id < $numQueries),
        exact AS ($exactSql),
        mp AS ($mpSql)
        SELECT e.qid, count(*) AS n_exact, count(m.neighbor) AS n_hit,
               CAST(round(count(m.neighbor) * 10000.0 / count(*)) AS BIGINT)
                 AS recall_e4
        FROM exact e LEFT JOIN mp m
          ON e.qid = m.qid AND e.neighbor = m.neighbor
        GROUP BY e.qid ORDER BY e.qid"""
      }),

    // ── Recall@k curve (k = 1, 3, 5) ───────────────────────────────────
    // The CURVE, not one point: recall@1 (does the top hit survive
    // bucketing?) vs recall@5 tell different tuning stories, and an
    // index that's fine at @5 but poor at @1 needs reranking, not more
    // probes. Defined as |top-k(exact) ∩ top-k(approx)| / (k·queries),
    // aggregated over the query set per k. Pure eval arithmetic over
    // the two (queries·topK)-row rank relations — the corpus-scale
    // work happens inside s01/s03 with their adjudicated shapes; the
    // k-expansion cross join multiplies a 3-row literal by rank rows.
    "s19_recall_curve" -> Q(
      run = (s, d) => {
        import s.implicits._
        val exact = graft.SparkEntry.queries("s01_cosine_topk")(s, d)
          .select(col("qid"), col("rank").as("erank"), col("neighbor"))
        val approx = graft.SparkEntry.queries("s03_signlsh_ann")(s, d)
          .select(col("qid").as("aqid"), col("rank").as("arank"),
            col("neighbor").as("aneighbor"))
        Seq(1, 3, 5).toDF("k")
          .crossJoin(exact).filter(col("erank") <= col("k"))
          .join(approx,
            col("qid") === col("aqid")
              && col("neighbor") === col("aneighbor")
              && col("arank") <= col("k"), "left")
          .groupBy("k")
          .agg(count(lit(1)).as("n_considered"),
            count(col("aneighbor")).as("n_hits"))
          .select(col("k").cast("long").as("k"), col("n_considered"),
            col("n_hits"),
            expr("n_hits * 1000000L div n_considered").as("recall_ppm"))
          .orderBy("k")
      },
      oracle = Some {
        val bucketSql = (0 until numPlanes).map { p =>
          s"""CASE WHEN list_reduce(list_transform(list_zip(v,
             |  list_transform(range(0, $dim),
             |    c -> (('0x' || substr(md5($p || '_' || c), 1, 4))::INT - 32767.5) / 32767.5)),
             |  s -> s[1]*s[2]), (acc, x) -> acc + x) >= 0 THEN ${1 << p} ELSE 0 END""".stripMargin
        }.mkString(" + ")
        s"""
        WITH $sqlVecs,
        nb AS (SELECT vec_id, v, nrm, $bucketSql AS bucket FROM n),
        exact AS (
          SELECT qid, rank AS erank, neighbor FROM (
            SELECT q.vec_id AS qid, c.vec_id AS neighbor,
                   row_number() OVER (PARTITION BY q.vec_id
                     ORDER BY ($sqlCos) DESC, c.vec_id) AS rank
            FROM n q JOIN n c ON q.vec_id < $numQueries AND q.vec_id <> c.vec_id)
          WHERE rank <= $topK),
        approx AS (
          SELECT qid, rank AS arank, neighbor FROM (
            SELECT q.vec_id AS qid, c.vec_id AS neighbor,
                   row_number() OVER (PARTITION BY q.vec_id
                     ORDER BY ($sqlCos) DESC, c.vec_id) AS rank
            FROM nb q JOIN nb c
              ON q.vec_id < $numQueries AND q.bucket = c.bucket
             AND q.vec_id <> c.vec_id)
          WHERE rank <= $topK),
        ks AS (SELECT unnest([1, 3, 5]) AS k)
        SELECT CAST(ks.k AS BIGINT) AS k,
               count(*) AS n_considered,
               count(a.neighbor) AS n_hits,
               count(a.neighbor) * 1000000 // count(*) AS recall_ppm
        FROM ks JOIN exact e ON e.erank <= ks.k
        LEFT JOIN approx a
          ON e.qid = a.qid AND e.neighbor = a.neighbor AND a.arank <= ks.k
        GROUP BY ks.k ORDER BY k"""
      }),

    // ── Embedding-space drift between corpus halves ────────────────────
    // The EMBEDDING twin of t23's lexical drift audit: has the vector
    // space moved between two snapshots? Halves by vec_id parity (a
    // content-stable split — p03's argument), per-(label, half)
    // centroids in s07's exact integer-e6 arithmetic, then per label
    // the squared L2 shift between the two halves' centroids plus the
    // count skew — both pure int64 once each per-dim centroid is
    // rounded (no float crosses an aggregation; the 64-dim diff² sum
    // is ≤ 64·(2e6)², comfortably in range). A label whose drift_e12
    // spikes between snapshots means its region of embedding space
    // was re-trained/re-sourced — re-index it (s02/s20's cells go
    // stale) before serving. Shape: ONE posexplode → one (label,
    // half, dim)-keyed two-phase agg → label-keyed fold; |labels|
    // output rows.
    "s23_embedding_drift" -> Q(
      run = (s, d) => {
        val cent = Tables.embeddings(s, d)
          .select(col("label"), (col("vec_id") % 2).as("half"),
            posexplode(col("embedding")).as(Seq("pos", "x")))
          .groupBy(col("label"), col("half"), (col("pos") + 1).as("dim"))
          .agg(sum(round(col("x").cast("double") * 1000000, 0).cast("long"))
            .as("sum_e6"), count(lit(1)).as("n"))
          .select(col("label"), col("half"), col("dim"),
            round(col("sum_e6").cast("double") / col("n"), 0).cast("long")
              .as("c_e6"), col("n"))
        cent.groupBy("label", "dim")
          .agg(sum(when(col("half") === 0, col("c_e6"))).as("c0"),
            sum(when(col("half") === 1, col("c_e6"))).as("c1"),
            max(when(col("half") === 0, col("n"))).as("n0"),
            max(when(col("half") === 1, col("n"))).as("n1"))
          .groupBy("label")
          .agg(sum((col("c0") - col("c1")) * (col("c0") - col("c1")))
              .as("drift_e12"),
            max(col("n0")).as("n_even"), max(col("n1")).as("n_odd"))
          .orderBy("label")
      },
      oracle = Some("""
        WITH cent AS (
          SELECT label, vec_id % 2 AS half, i AS dim,
                 CAST(round(CAST(sum(CAST(round(CAST(embedding[i] AS DOUBLE)
                        * 1000000) AS BIGINT)) AS DOUBLE)
                      / count(*)) AS BIGINT) AS c_e6,
                 count(*) AS n
          FROM embeddings, range(1, 65) AS r(i)
          GROUP BY 1, 2, 3),
        wide AS (SELECT label, dim,
                        sum(CASE WHEN half = 0 THEN c_e6 END) AS c0,
                        sum(CASE WHEN half = 1 THEN c_e6 END) AS c1,
                        max(CASE WHEN half = 0 THEN n END) AS n0,
                        max(CASE WHEN half = 1 THEN n END) AS n1
                 FROM cent GROUP BY 1, 2)
        SELECT label, CAST(sum((c0 - c1) * (c0 - c1)) AS BIGINT) AS drift_e12,
               CAST(max(n0) AS BIGINT) AS n_even,
               CAST(max(n1) AS BIGINT) AS n_odd
        FROM wide GROUP BY 1 ORDER BY label""")),

    // ── IVF cell-balance audit (probe-latency predictor) ───────────────
    // An IVF index (s02/s20) answers a probe in time ∝ the PROBED
    // cell's size, so tail latency is governed by the largest cell,
    // not the mean — the imbalance factor max·|cells|/n (1e6 = perfect
    // balance; 3e6 = the hottest cell is 3× fair share → p99 probes
    // run 3× the budget, and a skewed cell is also where s14's
    // Σ|cell|² dedup bound concentrates). One cell-keyed count + a
    // one-row stats fold, exact integer ppm — the audit a serving
    // team runs before ACCEPTING a coarse quantizer; read with s23:
    // drift tells you to re-train the quantizer, THIS tells you the
    // re-train produced servable cells.
    "s24_ivf_cell_balance" -> Q(
      run = (s, d) => {
        val cells = Tables.embeddings(s, d)
          .groupBy(col("label")).agg(count(lit(1)).as("c"))
        cells.agg(count(lit(1)).as("n_cells"),
            sum(col("c")).as("n_vecs"),
            max(col("c")).as("max_cell"), min(col("c")).as("min_cell"))
          .select(col("n_cells"), col("n_vecs"), col("max_cell"),
            col("min_cell"),
            expr("max_cell * n_cells * 1000000L div n_vecs")
              .as("imbalance_ppm"))
      },
      oracle = Some("""
        WITH cells AS (SELECT label, count(*) AS c FROM embeddings
                       GROUP BY 1),
        st AS (SELECT CAST(count(*) AS BIGINT) AS n_cells,
                      CAST(sum(c) AS BIGINT) AS n_vecs,
                      CAST(max(c) AS BIGINT) AS max_cell,
                      CAST(min(c) AS BIGINT) AS min_cell
               FROM cells)
        SELECT n_cells, n_vecs, max_cell, min_cell,
               max_cell * n_cells * 1000000 // n_vecs AS imbalance_ppm
        FROM st"""))
  )
}
