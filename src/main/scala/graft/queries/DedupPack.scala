package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Deduplication operators for a training-data pipeline over
  * `documents` / `embeddings`: exact (hash), n-gram Jaccard,
  * MinHash+LSH banding, SimHash, embedding-cosine near-dup.
  *
  * Hash parity strategy: every hash any query depends on is `md5` (hex
  * string) — identical in Spark and DuckDB — and "minimum hash" is the
  * lexicographic min of hex strings, so signatures match bit-for-bit
  * across engines. Similarity thresholds are applied to ROUNDED scaled
  * integers (e.g. `jaccard_e4 >= 3000`), never raw doubles, so a
  * boundary value can't land on different sides of the cut.
  *
  * Scale posture (100 TB):
  *   - d01 is one hash-aggregate: fully parallel, no skew risk.
  *   - d02 is the EXACT similarity join: one self-equi-join on the
  *     shingle with a lossless length-filter residual, Jaccard computed
  *     from carried (shared, sza, szb) — no lookup joins, no per-row
  *     set intersection. Hot shingles are still quadratic at scale —
  *     d03 (MinHash+LSH) is the approximate scale path: candidate
  *     pairs only within equal (band, key) buckets.
  *   - d04 SimHash reduces each doc to one 32-bit int; the pair stage
  *     equi-joins on 3 pigeonhole bands (hamming ≤ 2 ⇒ ≥1 equal band),
  *     never all-pairs.
  *   - d05 is the brute-force O(n²) baseline over embeddings; the
  *     bucketed ANN in SimilarityPack (s03) is its scale path.
  */
object DedupPack extends QueryPack {

  /** Stopword list shared with the t02 quality score (d09 keep policy). */
  private val stop = Seq("the", "a", "of", "and", "to", "in", "is", "on")
  private def sqlStop = stop.map(s => s"'$s'").mkString(", ")

  // token 3-gram shingles, distinct, as an array column (docs are
  // single-space tokenized; every fixture doc has ≥3 tokens).
  // `toks` is bound as its own column first: nesting `split(text)` inside
  // the lambda would re-evaluate the split per element (O(tokens²)/doc).
  private val shingleExpr =
    """array_distinct(transform(sequence(1, size(toks) - 2),
      |  i -> concat_ws(' ', element_at(toks, i),
      |                 element_at(toks, i + 1),
      |                 element_at(toks, i + 2))))""".stripMargin

  /** doc_id → shingle set, persisted and memoized BY OBJECT per
    * (session, dir): d02/d03 consume it from three plan branches
    * (explode for candidates, twice for verification). Re-building the
    * DataFrame per call would re-run the interpreted shingle/md5
    * pipeline per branch — exchange reuse across branches is unreliable
    * with cached inputs (measured 8-40× slower at sf0.1); one shared
    * persisted object makes the work happen exactly once. The relation
    * is a few MB per 5k docs; at 100 TB this stage is a materialized
    * intermediate table. The repartition spreads the single-file scan
    * across all cores before the heavy per-row compute. */
  private def shingled(s: SparkSession, d: String): DataFrame =
    graft.Caches.memo(s, "dedup.shingles:" + d)(
      Tables.documents(s, d)
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
        .withColumn("toks", split(col("text"), " "))
        .select(col("doc_id"), expr(shingleExpr).as("s"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** doc_id → (shingles, 12 min-hash signatures), persisted+memoized:
    * signatures MUST be computed once, not once per join branch. The
    * native one-pass [[graft.functions.MinHashSigs]] kernel replaces 12
    * interpreted higher-order traversals (5M+ md5 calls at sf0.1 plus a
    * concat + hex-string allocation per element×family) — bit-identical
    * output, so the DuckDB oracle is unchanged. */
  /** d05's executable adjudication (p22's MaxCanaries pattern): the
    * brute-force O(n²) recall yardstick refuses corpora past its
    * budget at plan-build time instead of silently burning n²·dims on
    * a cluster — the scale paths are s03 (sign-LSH) / s14 (SemDeDup). */
  val MaxYardstickVectors = 200000L // 200k² pairs ≈ the yardstick ceiling
  private[queries] def requireYardstickBudget(n: Long): Unit =
    require(n <= MaxYardstickVectors,
      s"d05 is the brute-force O(n²) recall yardstick, capped at " +
        s"$MaxYardstickVectors vectors (got $n). For production-scale " +
        "corpora run the bucketed paths instead: s03 (sign-LSH) or s14 " +
        "(SemDeDup cells).")

  /** d02's executable adjudication (round 12 — the d05 cap pattern
    * applied to the adjudicated quadratic): before building the
    * shared-shingle self-join, ONE cheap aggregation over the memoized
    * shingle relation computes the exact candidate-pair multiset size
    * Σ_g df·(df−1)/2 — the same number d16's hot-shingle audit ranks
    * per-shingle — and refuses past the bound, naming d03 as the scale
    * path. Calibration is measured, not guessed: the replica ladder
    * grows pair mass linearly (1.27M at sf0.1 → 12.7M at sf1 →
    * 126.6M at sf10, where the measured min-of-3 wall is 126 s ≈
    * 1 µs/pair at the rung layout), so 500M caps the worst case near
    * ~8 min and an sf100-scale corpus (~1.27G pairs, the ~20-minute
    * extrapolation r11's verdict flagged) refuses instead of silently
    * burning a cluster. The pre-agg costs one scan of the persisted
    * shingle relation — noise next to the join it guards. */
  val MaxJaccardPairMass = 500000000L
  // pair-mass memo (round-13 advice): the budget guard is an eager
  // full aggregation at DataFrame-BUILD time, so d02/d12 construction
  // is side-effecting by design (a refusal must fire before any plan
  // is handed out) — but repeated builds over the same (session, dir)
  // (d19's inner d02 call, warmup reps, fingerprintAll) should pay the
  // guard scan ONCE, like the shingle/signature memos they ride on.
  private def guardJaccardBudget(s: SparkSession, d: String,
      ex: DataFrame): Unit =
    requireJaccardBudget(graft.Caches.memo(s, "dedup.pairmass:" + d)(
      ex.groupBy("g").agg(count(lit(1)).as("c"))
        .agg(coalesce(sum(expr("c * (c - 1) DIV 2")), lit(0L)))
        .first().getLong(0)))

  private[queries] def requireJaccardBudget(pairMass: Long): Unit =
    require(pairMass <= MaxJaccardPairMass,
      s"d02 is the EXACT shared-shingle quadratic, capped at " +
        s"$MaxJaccardPairMass candidate pairs (this corpus generates " +
        s"$pairMass = sum over shingles of df*(df-1)/2). For corpora " +
        "past the cap run d03 (MinHash+LSH banding) — the approximate " +
        "scale path with measured recall (d15/d17/d19 instruments).")

  private def signatures(s: SparkSession, d: String): DataFrame =
    graft.Caches.memo(s, "dedup.signatures:" + d) {
      graft.functions.GraftFunctions.register(s)
      val sigs = graft.functions.GraftFunctions.minhashSigs(col("s"), numHashes)
      val sigCols = (0 until numHashes).map { i =>
        element_at(col("sigs"), i + 1).as(s"sig$i")
      }
      shingled(s, d)
        .select(col("doc_id"), col("s"), sigs.as("sigs"))
        .select(col("doc_id") +: col("s") +: sigCols: _*)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  private val sqlShingle =
    """list_distinct(list_transform(range(1, len(string_split(text, ' ')) - 1),
      |  i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]
      |       || ' ' || string_split(text, ' ')[i+2]))""".stripMargin

  private val numHashes = 12
  private val bandSize = 3
  private val numBands = numHashes / bandSize

  /** SQL fragments of the MinHash pipeline, shared by d03/d06/d07 and
    * PipelinePack oracles. */
  private val sigSql = (0 until numHashes).map { i =>
    s"list_aggregate(list_transform(s, x -> md5('$i|' || x)), 'min') AS sig$i"
  }.mkString(",\n               ")
  private val bandSql = (0 until numBands).map { b =>
    val ks = (0 until bandSize).map(j => s"sig${b * bandSize + j}")
    s"SELECT doc_id, $b AS band, ${ks.mkString(" || '|' || ")} AS key FROM sig"
  }.mkString("\n          UNION ALL ")

  /** Shared WITH-prefix of the MinHash pipeline (shingles → 12
    * signatures → banded keys) — d03's oracle and p25's fuzzy
    * decontamination twin both start here. */
  private[queries] val bandsCtePrefix: String =
    s"""
        WITH sh AS (SELECT doc_id, $sqlShingle AS s FROM documents),
        sig AS (SELECT doc_id, s,
               $sigSql
               FROM sh),
        bands AS ($bandSql)"""

  /** (doc_id, band, key) banded MinHash signatures off the memoized
    * signature relation — d03/d17's candidate generation, shared with
    * p25's cross-table (corpus × benchmark) decontamination join.
    *
    * Empty shingle sets produce all-NULL minhash signatures, and
    * `concat_ws` SKIPS nulls — the band key would be "" (empty string,
    * not null), so on a short-doc-heavy corpus every empty-shingle doc
    * would band-join every other on ONE hot "" bucket: exactly the
    * quadratic hot key LSH exists to avoid (and the one the DuckDB
    * twins never form, because SQL `||` propagates NULL keys that no
    * equi-join matches). Dropping null-signature rows here makes the
    * Spark plan structurally match the oracle's null semantics AND
    * removes the hot bucket for d03/d17/p25 at once; output is
    * unchanged (those pairs always scored null Jaccard and were
    * filtered downstream). */
  private[queries] def bandedSignatures(s: SparkSession, d: String): DataFrame =
    bandedOf(signatures(s, d))

  /** Banding applied to a given signature relation (cols doc_id,
    * sig0..sigN) — shared by the memoized path above and the
    * snapshot-parameterized [[lshPairsOf]]. */
  private[queries] def bandedOf(sig: DataFrame): DataFrame = {
    val bandKeys = (0 until numBands).map { b =>
      concat_ws("|",
        (0 until bandSize).map(j => col(s"sig${b * bandSize + j}")): _*)
    }
    sig.filter(col("sig0").isNotNull)
      .select(col("doc_id"),
        posexplode(array(bandKeys: _*)).as(Seq("band", "key")))
  }

  /** (doc_id, shingle set) off the same memoized relation — the exact
    * confirm stage d03/p25 score candidates with. */
  private[queries] def shingleSets(s: SparkSession, d: String): DataFrame =
    signatures(s, d).select(col("doc_id"), col("s"))

  /** d03's FULL near-dup pair pipeline (shingle → 12 minhash sigs →
    * band → bucket-join → exact-Jaccard confirm ≥ 3000) over an
    * ARBITRARY (doc_id, text) relation — round 14, the p27
    * incremental-refresh composition needs pairs for a PRIOR corpus
    * snapshot, which the (session, dir)-keyed memos cannot serve.
    * Same expressions end-to-end as the memoized path (shingleExpr,
    * MinHashSigs, band keys, JaccardE4), so results for the unchanged
    * snapshot are bit-identical to d03's. The signature relation is
    * pinned (it feeds three join branches — the memo's rationale);
    * the pin is tracked, so the caller's post-query strayUnpersist
    * reclaims it. */
  private[queries] def lshPairsOf(s: SparkSession,
      docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val sigs = graft.functions.GraftFunctions.minhashSigs(col("s"), numHashes)
    val sigCols = (0 until numHashes).map { i =>
      element_at(col("sigs"), i + 1).as(s"sig$i")
    }
    val lc = new graft.operators.LineageCut(None)
    val sig = lc.pin(docs
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"), expr(shingleExpr).as("s"))
      .select(col("doc_id"), col("s"), sigs.as("sigs"))
      .select(col("doc_id") +: col("s") +: sigCols: _*))
    val bands = bandedOf(sig)
    val cand = bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .distinct()
    val jac = graft.functions.GraftFunctions.jaccardE4(col("sa"), col("sb"))
    cand
      .join(sig.select(col("doc_id"), col("s").as("sa")),
        col("da") === col("doc_id")).drop("doc_id")
      .join(sig.select(col("doc_id"), col("s").as("sb")),
        col("db") === col("doc_id"))
      .select(col("da"), col("db"), jac.as("jaccard_e4"))
      .filter(col("jaccard_e4") >= 3000)
      .select(col("da"), col("db"))
  }

  /** d03's oracle SQL — shared with d06 (cluster CTE) and PipelinePack. */
  private[queries] val d03OracleSql: String = {
    s"""$bandsCtePrefix,
        cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
                 FROM bands a JOIN bands b
                   ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
        SELECT da, db,
               CAST(round(len(list_intersect(x.s, y.s)) * 10000.0
                    / (len(x.s) + len(y.s) - len(list_intersect(x.s, y.s)))) AS BIGINT) AS jaccard_e4
        FROM cand JOIN sh x ON da = x.doc_id JOIN sh y ON db = y.doc_id
        WHERE CAST(round(len(list_intersect(x.s, y.s)) * 10000.0
                   / (len(x.s) + len(y.s) - len(list_intersect(x.s, y.s)))) AS BIGINT) >= 3000
        ORDER BY da, db"""
  }

  def queries: Seq[(String, Q)] = Seq(

    // ── Exact dedup (content hash) ─────────────────────────────────────
    "d01_exact_dedup" -> Q(
      run = (s, d) => {
        val norm = trim(regexp_replace(lower(col("text")), "\\s+", " "))
        Tables.documents(s, d)
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(md5(col("text"))).as("n_uniq_raw"),
            countDistinct(md5(norm)).as("n_uniq_norm"))
      },
      oracle = Some("""
        SELECT count(*) AS n_docs,
               count(DISTINCT md5(text)) AS n_uniq_raw,
               count(DISTINCT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))) AS n_uniq_norm
        FROM documents""")),

    // ── Exact n-gram Jaccard near-dup (shared-shingle candidates) ──────
    // Exact set-similarity join: count shared shingles per doc pair via
    // a self-equi-join on the shingle, carrying both set sizes THROUGH
    // the join and the group-by (sz is functionally dependent on doc_id,
    // so adding it to the grouping keys changes nothing) — the Jaccard
    // is then computable from (shared, sza, szb) alone, with no lookup
    // joins and no per-row array intersection anywhere.
    // The join carries the lossless length-filter residual
    // (J ≥ t ⇒ min(|A|,|B|) ≥ t·max(|A|,|B|)); t = 0.2999
    // under-approximates the real cut (jaccard_e4 ≥ 3000 ⇔
    // J ≥ 0.29995), so no qualifying pair can be pruned.
    // A rare-first prefix filter (PPJoin) was measured here and LOST:
    // on this corpus's small shingle vocabulary it trims the pair
    // multiset < 2× while forcing a set-verification pass that costs
    // 10× the join it saves — the count-based join IS the fast exact
    // path; d03 (MinHash+LSH) is the approximate scale path when even
    // shared-shingle buckets are too hot.
    // The self-join is HINTED shuffle-hash (round 9): Catalyst's size
    // estimate for Generate-over-cached-shingles undershoots, so the
    // optimizer broadcast the ENTIRE exploded relation — wrong twice
    // over. At 100 TB the exploded side is corpus-sized (never
    // broadcastable), and even at bench scale the driver-side collect
    // + torrent rebroadcast of 260k generated rows was the measured
    // variance source (warm reps 2.3–22 s broadcast vs 1.4–2.0 s
    // shuffled). Shuffling BOTH sides on g makes the two subplans
    // identical, so one ReusedExchange feeds both and the relation is
    // exploded/shuffled exactly once.
    "d02_ngram_jaccard" -> Q(
      run = (s, d) => {
        val t = 0.2999
        val sh = shingled(s, d)
        val ex = sh.select(col("doc_id"), size(col("s")).as("sz"),
          explode(col("s")).as("g"))
        // executable scale guard — see [[requireJaccardBudget]]
        guardJaccardBudget(s, d, ex)
        val cand = ex.as("a")
          .join(ex.hint("shuffle_hash").as("b"),
            col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id")
              && col("a.sz") >= col("b.sz") * t
              && col("b.sz") >= col("a.sz") * t)
          .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
            col("a.sz").as("sza"), col("b.sz").as("szb"))
          .agg(count(lit(1)).as("shared"))
        val jac = round(col("shared") * lit(10000.0)
          / (col("sza") + col("szb") - col("shared")), 0).cast("long")
        cand
          .select(col("da"), col("db"), col("shared"), jac.as("jaccard_e4"))
          .filter(col("jaccard_e4") >= 3000)
          .orderBy("da", "db")
      },
      oracle = Some(s"""
        WITH sh AS (SELECT doc_id, $sqlShingle AS s FROM documents),
        sz AS (SELECT doc_id, len(s) AS sz FROM sh),
        ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
        cand AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS shared
                 FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
                 GROUP BY 1, 2)
        SELECT da, db, shared,
               CAST(round(shared * 10000.0 / (x.sz + y.sz - shared)) AS BIGINT) AS jaccard_e4
        FROM cand JOIN sz x ON da = x.doc_id JOIN sz y ON db = y.doc_id
        WHERE CAST(round(shared * 10000.0 / (x.sz + y.sz - shared)) AS BIGINT) >= 3000
        ORDER BY da, db"""),
      bench = true),

    // ── MinHash + LSH banding near-dup (the scale path) ────────────────
    "d03_minhash_lsh" -> Q(
      run = (s, d) => {
        val sig = signatures(s, d)
        val bands = bandedSignatures(s, d)
        val cand = bands.as("a")
          .join(bands.as("b"),
            col("a.band") === col("b.band") && col("a.key") === col("b.key")
              && col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
          .distinct()
        val withSets = cand
          .join(sig.select(col("doc_id"), col("s").as("sa")), col("da") === col("doc_id"))
          .drop("doc_id")
          .join(sig.select(col("doc_id"), col("s").as("sb")), col("db") === col("doc_id"))
        // native one-pass set kernel; same IEEE arithmetic as the SQL
        // twin (see JaccardE4), so the oracle is unchanged
        graft.functions.GraftFunctions.register(s)
        val jac = graft.functions.GraftFunctions.jaccardE4(col("sa"), col("sb"))
        withSets
          .select(col("da"), col("db"), jac.as("jaccard_e4"))
          .filter(col("jaccard_e4") >= 3000)
          .orderBy("da", "db")
      },
      oracle = Some(d03OracleSql),
      bench = true),

    // ── SimHash near-dup (32-bit, hamming ≤ 2) ─────────────────────────
    "d04_simhash" -> Q(
      run = (s, d) => {
        val tok = Tables.documents(s, d)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
          .distinct()
          .withColumn("v", conv(substring(md5(col("t")), 1, 8), 16, 10).cast("long"))
        val bitSums = (0 until 32).map { b =>
          sum(when(shiftright(col("v"), b).bitwiseAND(lit(1)) === 1, 1)
            .otherwise(-1)).as(s"s$b")
        }
        val bits = tok.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
        val h = (0 until 32).map { b =>
          when(col(s"s$b") >= 0, lit(1L << b)).otherwise(lit(0L))
        }.reduce(_ + _)
        val sh = bits.select(col("doc_id"), h.as("h"))
        // Banded candidate generation (pigeonhole): split the 32-bit hash
        // into 3 disjoint bands (11+11+10 bits). A pair within hamming ≤ 2
        // differs in at most 2 bands, so it MUST agree exactly on at least
        // one — candidates are an equi-join on (band, key), a plain
        // shuffle join, not the all-pairs cartesian the naive a.id < b.id
        // formulation plans (BroadcastNestedLoop over n²/2 — the textbook
        // scale-killer at 100 TB). Exact hamming then verifies.
        val bandExprs = Seq((0, 11), (11, 11), (22, 10)).zipWithIndex.map {
          case ((off, len), i) =>
            struct(lit(i).as("band"),
              shiftright(col("h"), off).bitwiseAND(lit((1L << len) - 1))
                .as("key"))
        }
        val bands = sh.select(col("doc_id"), col("h"),
          explode(array(bandExprs: _*)).as("bk"))
        bands.as("a")
          .join(bands.as("b"),
            col("a.bk") === col("b.bk") && col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
            expr("bit_count(a.h ^ b.h)").cast("int").as("hamming"))
          .distinct()
          .filter(col("hamming") <= 2)
          .orderBy("da", "db")
      },
      oracle = Some {
        val bitSums = (0 until 32).map { b =>
          s"sum(CASE WHEN (v >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS s$b"
        }.mkString(",\n               ")
        val hSql = (0 until 32).map { b =>
          s"CASE WHEN s$b >= 0 THEN ${1L << b} ELSE 0 END"
        }.mkString(" + ")
        s"""
        WITH tok AS (SELECT DISTINCT doc_id, t FROM
                     (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)),
        tv AS (SELECT doc_id, ('0x' || substr(md5(t), 1, 8))::BIGINT AS v FROM tok),
        bits AS (SELECT doc_id,
               $bitSums
               FROM tv GROUP BY doc_id),
        sh AS (SELECT doc_id, $hSql AS h FROM bits)
        SELECT a.doc_id AS da, b.doc_id AS db,
               CAST(bit_count(xor(a.h, b.h)) AS INT) AS hamming
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.h, b.h)) <= 2
        ORDER BY da, db"""
      }),

    // ── Duplicate clusters: connected components over d03's pair graph ─
    // A pair list alone over- or under-drops: a~b, b~c means {a,b,c} is
    // ONE duplicate cluster even if a and c never paired. Min-label
    // components (operators.ConnectedComponents, one shuffle per round,
    // rounds = cluster diameter) resolve the transitive groups; keep
    // policy = lowest doc_id per cluster. Oracle: DuckDB recursive CTE
    // transitive closure over the same pairs.
    "d06_dup_clusters" -> Q(
      run = (s, d) => {
        val pairs = graft.SparkEntry.queries("d03_minhash_lsh")(s, d)
          .select(col("da"), col("db"))
        graft.operators.ConnectedComponents.minLabel(pairs)
          .select(col("node").as("doc_id"), col("component").as("cluster_id"))
          .orderBy("doc_id")
      },
      oracle = Some(s"""
        WITH RECURSIVE pairs AS ($d03OracleSql),
        edges AS (SELECT da AS a, db AS b FROM pairs
                  UNION SELECT db, da FROM pairs),
        reach(n, m) AS (
          SELECT a, a FROM edges
          UNION
          SELECT r.n, e.b FROM reach r JOIN edges e ON r.m = e.a)
        SELECT n AS doc_id, min(m) AS cluster_id
        FROM reach GROUP BY n ORDER BY doc_id"""),
      benchIter = true),

    // ── Incremental (delta) near-dup: new docs vs the whole corpus ─────
    // The operation a production pipeline actually runs: yesterday's
    // corpus is already deduped, today's DELTA must be checked against
    // corpus ∪ delta — without re-running corpus × corpus. One join
    // side is restricted to the delta's band keys, so candidate volume
    // is corpus × delta (at 100 TB: the whole point; the corpus side's
    // signatures are a materialized table that is never recomputed).
    // "New" docs are a content-stable 20% hash bucket (p03's technique),
    // so the oracle sees the same split. Output orientation: db is
    // always the new doc; a new-new pair appears once (da < db).
    "d07_incremental_dedup" -> Q(
      run = (s, d) => {
        val sig = signatures(s, d)
        val bandKeys = (0 until numBands).map { b =>
          concat_ws("|",
            (0 until bandSize).map(j => col(s"sig${b * bandSize + j}")): _*)
        }
        val isNew = conv(substring(md5(col("doc_id").cast("string")), 1, 8),
          16, 10).cast("long") % 100 < 20
        // null-signature (empty-shingle) rows dropped before banding —
        // same "" hot-key hazard and oracle-null parity as
        // [[bandedSignatures]]'s scaladoc
        val bands = sig.filter(col("sig0").isNotNull)
          .select(col("doc_id"), isNew.as("is_new"),
            posexplode(array(bandKeys: _*)).as(Seq("band", "key")))
        val cand = bands.as("a")
          .join(bands.filter(col("is_new")).as("b"),
            col("a.band") === col("b.band") && col("a.key") === col("b.key")
              && col("a.doc_id") =!= col("b.doc_id")
              && (!col("a.is_new") || col("a.doc_id") < col("b.doc_id")))
          .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
          .distinct()
        val withSets = cand
          .join(sig.select(col("doc_id"), col("s").as("sa")),
            col("da") === col("doc_id")).drop("doc_id")
          .join(sig.select(col("doc_id"), col("s").as("sb")),
            col("db") === col("doc_id"))
        graft.functions.GraftFunctions.register(s)
        val jac = graft.functions.GraftFunctions.jaccardE4(col("sa"), col("sb"))
        withSets
          .select(col("da"), col("db"), jac.as("jaccard_e4"))
          .filter(col("jaccard_e4") >= 3000)
          .orderBy("da", "db")
      },
      oracle = Some(s"""
        WITH sh AS (SELECT doc_id, $sqlShingle AS s FROM documents),
        sig AS (SELECT doc_id, s,
               $sigSql
               FROM sh),
        bands AS ($bandSql),
        flags AS (SELECT doc_id,
                         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 20 AS is_new
                  FROM sh),
        cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
                 FROM bands a
                 JOIN flags fa ON a.doc_id = fa.doc_id
                 JOIN bands b ON a.band = b.band AND a.key = b.key
                 JOIN flags fb ON b.doc_id = fb.doc_id
                 WHERE fb.is_new AND a.doc_id != b.doc_id
                   AND (NOT fa.is_new OR a.doc_id < b.doc_id))
        SELECT da, db,
               CAST(round(len(list_intersect(x.s, y.s)) * 10000.0
                    / (len(x.s) + len(y.s) - len(list_intersect(x.s, y.s)))) AS BIGINT) AS jaccard_e4
        FROM cand JOIN sh x ON da = x.doc_id JOIN sh y ON db = y.doc_id
        WHERE CAST(round(len(list_intersect(x.s, y.s)) * 10000.0
                   / (len(x.s) + len(y.s) - len(list_intersect(x.s, y.s)))) AS BIGINT) >= 3000
        ORDER BY da, db""")),

    // ── Embedding-cosine near-dup (brute-force baseline) ───────────────
    // The designed O(n²) recall YARDSTICK — the scale paths are
    // s03/s14 (and the plan-smell audit lists this as the one `weak`
    // entry by design). The cap below makes that adjudication
    // executable, p22's MaxCanaries pattern: a corpus past the
    // yardstick's budget must fail loudly at plan-build time, not
    // silently burn n²·dims on a cluster.
    "d05_embedding_neardup" -> Q(
      run = (s, d) => {
        requireYardstickBudget(Tables.embeddings(s, d).count())
        val e = Tables.embeddings(s, d)
          // single parquet file → repartition before the O(n²) pair scan
          .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
          .select(col("vec_id"),
            transform(col("embedding"), x => x.cast("double")).as("v"))
          .withColumn("nrm", aggregate(
            transform(col("v"), x => x * x), lit(0.0), (a, b) => a + b))
        val dot = aggregate(
          zip_with(col("a.v"), col("b.v"), (x, y) => x * y),
          lit(0.0), (acc, x) => acc + x)
        val cosE6 = round(dot / sqrt(col("a.nrm")) / sqrt(col("b.nrm"))
          * lit(1000000), 0).cast("long")
        e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
          .select(col("a.vec_id").as("da"), col("b.vec_id").as("db"),
            cosE6.as("cos_e6"))
          .filter(col("cos_e6") >= 450000)
          .orderBy("da", "db")
      },
      oracle = Some("""
        WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                   FROM embeddings),
        n AS (SELECT vec_id, v,
                     list_reduce(list_transform(v, x -> x*x), (a, b) -> a + b) AS nrm
              FROM e)
        SELECT a.vec_id AS da, b.vec_id AS db,
               CAST(round(list_reduce(list_transform(list_zip(a.v, b.v), s -> s[1]*s[2]),
                          (acc, x) -> acc + x) / sqrt(a.nrm) / sqrt(b.nrm) * 1000000) AS BIGINT) AS cos_e6
        FROM n a JOIN n b ON a.vec_id < b.vec_id
        WHERE CAST(round(list_reduce(list_transform(list_zip(a.v, b.v), s -> s[1]*s[2]),
                         (acc, x) -> acc + x) / sqrt(a.nrm) / sqrt(b.nrm) * 1000000) AS BIGINT) >= 450000
        ORDER BY da, db""")),

    // ── Duplicated-passage removal (chunk-level dedup) ─────────────────
    // The CCNet/RefinedWeb passage filter: documents are segmented into
    // consecutive 10-token chunks; any chunk whose hash occurs in ≥2
    // DISTINCT documents is boilerplate and is dropped from every
    // document; the survivors are reassembled in order. Unlike d01–d05
    // (whole-document verdicts) this rewrites document CONTENT — the
    // other half of what a production dedup stage does.
    // Scale shape: one hash-aggregate over chunks builds the dup-hash
    // list, then a LEFT ANTI join removes them — both keyed on md5
    // hashes (uniformly distributed, no skew). The reassembly groupBy
    // shuffles each doc's surviving chunks once, keyed by doc_id.
    "d08_chunk_dedup" -> Q(
      run = (s, d) => {
        val W = 10
        val docs = Tables.documents(s, d)
          .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
          .withColumn("toks", split(col("text"), " "))
          .select(col("doc_id"), expr(
            s"""transform(sequence(0, cast(ceil(size(toks) / $W.0) as int) - 1),
               |  i -> array_join(slice(toks, i * $W + 1, $W), ' '))""".stripMargin)
            .as("chunks"))
        val ch = docs
          .select(col("doc_id"), size(col("chunks")).as("n_chunks"),
            posexplode(col("chunks")).as(Seq("pos", "chunk")))
          .withColumn("h", md5(col("chunk")))
        val dup = ch.groupBy("h")
          .agg(countDistinct(col("doc_id")).as("nd"))
          .filter(col("nd") >= 2).select("h")
        val re = ch.join(dup, Seq("h"), "left_anti")
          .groupBy("doc_id")
          .agg(array_join(
            transform(array_sort(collect_list(struct(col("pos"), col("chunk")))),
              x => x.getField("chunk")), " ").as("clean_text"),
            count(lit(1)).as("n_kept"))
          .withColumnRenamed("doc_id", "rdoc")
        docs.select(col("doc_id"), size(col("chunks")).as("n_chunks"))
          .join(re, col("doc_id") === col("rdoc"), "left")
          .select(col("doc_id"),
            coalesce(col("clean_text"), lit("")).as("clean_text"),
            col("n_chunks").cast("long").as("n_chunks"),
            (col("n_chunks") - coalesce(col("n_kept"), lit(0L))).cast("long")
              .as("n_dropped"))
          .orderBy("doc_id")
      },
      oracle = Some("""
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        c AS (SELECT doc_id,
                     list_transform(range(CAST(ceil(len(toks)/10.0) AS BIGINT)),
                                    i -> array_to_string(toks[i*10+1 : i*10+10], ' ')) AS chunks
              FROM t),
        ch AS (SELECT doc_id, unnest(chunks) AS chunk,
                      generate_subscripts(chunks, 1) AS pos FROM c),
        dup AS (SELECT md5(chunk) AS h FROM ch
                GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2),
        kept AS (SELECT doc_id, pos, chunk FROM ch
                 WHERE md5(chunk) NOT IN (SELECT h FROM dup)),
        re AS (SELECT doc_id AS rdoc,
                      string_agg(chunk, ' ' ORDER BY pos) AS clean_text,
                      count(*) AS n_kept
               FROM kept GROUP BY doc_id)
        SELECT c.doc_id, coalesce(re.clean_text, '') AS clean_text,
               CAST(len(c.chunks) AS BIGINT) AS n_chunks,
               CAST(len(c.chunks) - coalesce(re.n_kept, 0) AS BIGINT) AS n_dropped
        FROM c LEFT JOIN re ON c.doc_id = re.rdoc
        ORDER BY doc_id""")),

    // ── Canonical-document selection per duplicate cluster ─────────────
    // The keep policy a curation pipeline actually wants: within each
    // duplicate cluster (d06's transitive components) keep the
    // HIGHEST-QUALITY member (t02's score; ties → lowest doc_id), not
    // blindly the lowest id. One keyed window over the (tiny) cluster
    // relation joined with per-doc scores — the cluster table is
    // orders of magnitude smaller than the corpus, so this decision
    // step is never the scale bottleneck.
    "d09_canonical_keep" -> Q(
      run = (s, d) => canonicalKeep(
        graft.SparkEntry.queries("d06_dup_clusters")(s, d),
        graft.SparkEntry.queries("t02_quality_score")(s, d)
          .select(col("doc_id"), col("quality_e4"))),
      oracle = Some(s"""
        WITH RECURSIVE pairs AS ($d03OracleSql),
        edges AS (SELECT da AS a, db AS b FROM pairs
                  UNION SELECT db, da FROM pairs),
        reach(n, m) AS (
          SELECT a, a FROM edges
          UNION
          SELECT r.n, e.b FROM reach r JOIN edges e ON r.m = e.a),
        comp AS (SELECT n AS doc_id, min(m) AS cluster_id
                 FROM reach GROUP BY n),
        qual AS (SELECT doc_id,
                        CAST(round(len(list_filter(string_split(text, ' '),
                                   t -> t IN ($sqlStop))) * 5000.0
                                   / len(string_split(text, ' '))
                             + least(n_chars, 500) * 5000.0 / 500.0) AS BIGINT)
                          AS quality_e4
                 FROM documents),
        ranked AS (SELECT c.cluster_id, c.doc_id, q.quality_e4,
                          row_number() OVER (PARTITION BY c.cluster_id
                            ORDER BY q.quality_e4 DESC, c.doc_id) AS rn
                   FROM comp c JOIN qual q USING (doc_id))
        SELECT cluster_id, count(*) AS n_members,
               max(CASE WHEN rn = 1 THEN doc_id END) AS kept_doc,
               max(CASE WHEN rn = 1 THEN quality_e4 END) AS kept_quality_e4
        FROM ranked GROUP BY cluster_id ORDER BY cluster_id""")),

    // ── Fuzzy vocabulary matching (edit distance ≤ 2, SymSpell) ────────
    // Typo-tolerant matching — the vocab-normalization pass that merges
    // misspellings before counting/deduping. The naive plan is all-pairs
    // levenshtein (a cartesian — THE scale-killer); the SymSpell
    // insight makes it an equi-join: two words within edit distance 2
    // MUST share a member of their ≤2-char-deletion neighborhoods, so
    // candidates come from joining on deletion keys (≈ len²/2 keys per
    // word — generated in-pipeline), and exact levenshtein verifies
    // only candidates. Same candidates-then-verify shape as d02–d04,
    // applied to strings. levenshtein() is the classic unit-cost DP in
    // both engines, so the verify column is cross-engine exact.
    "d10_fuzzy_vocab" -> Q(
      run = (s, d) => {
        val words = Tables.documents(s, d)
          .select(explode(split(col("text"), " ")).as("w"))
          .filter(col("w").rlike("^[a-z]{3,12}$"))
          .distinct()
        val nb = words.withColumn("k", explode(expr(
          """array_distinct(concat(
            |  array(w),
            |  transform(sequence(1, length(w)),
            |    i -> concat(substring(w, 1, i-1),
            |                substring(w, i+1, length(w)))),
            |  flatten(transform(
            |    transform(sequence(1, length(w)),
            |      i -> concat(substring(w, 1, i-1),
            |                  substring(w, i+1, length(w)))),
            |    v -> transform(sequence(1, length(v)),
            |      j -> concat(substring(v, 1, j-1),
            |                  substring(v, j+1, length(v))))))))""".stripMargin)))
        nb.as("a").join(nb.as("b"),
            col("a.k") === col("b.k") && col("a.w") < col("b.w"))
          .select(col("a.w").as("wa"), col("b.w").as("wb"))
          .distinct()
          .withColumn("dist", levenshtein(col("wa"), col("wb")).cast("int"))
          .filter(col("dist") <= 2)
          .orderBy("wa", "wb")
      },
      oracle = Some("""
        WITH words AS (
          SELECT DISTINCT w
          FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
          WHERE regexp_matches(w, '^[a-z]{3,12}$')),
        d1 AS (
          SELECT w, list_transform(range(1, len(w) + 1),
                   i -> substr(w, 1, CAST(i - 1 AS INT))
                     || substr(w, CAST(i + 1 AS INT))) AS dels
          FROM words),
        nb AS (
          SELECT w, unnest(list_distinct(flatten([
                   [w], dels,
                   flatten(list_transform(dels,
                     v -> list_transform(range(1, len(v) + 1),
                       j -> substr(v, 1, CAST(j - 1 AS INT))
                         || substr(v, CAST(j + 1 AS INT)))))
                 ]))) AS k
          FROM d1)
        SELECT wa, wb, dist FROM (
          SELECT DISTINCT a.w AS wa, b.w AS wb,
                 CAST(levenshtein(a.w, b.w) AS INT) AS dist
          FROM nb a JOIN nb b ON a.k = b.k AND a.w < b.w)
        WHERE dist <= 2 ORDER BY wa, wb""")),

    // ── Maximal duplicated-substring spans (Lee et al. 2021 shape) ─────
    // Exact substring-level dedup: find every maximal token span whose
    // 8-grams all recur in ANOTHER document — the operation behind
    // "deduplicating training data makes LMs better" (suffix-array
    // ExactSubstr), reformulated for a shuffle engine. Three stages,
    // none pairwise: (1) each doc emits its 8-gram MD5 keys with
    // positions (pure map; 16-byte keys, never the text, cross the
    // wire); (2) one corpus-sized two-phase groupBy(h) keeps hashes
    // seen in ≥2 docs; (3) flagged positions equi-join back and merge
    // into maximal spans via a per-doc keyed window (gap ≤ 8 ⇒ same
    // span). Unlike d02's pair join, a white-hot 8-gram costs ONE ROW
    // PER OCCURRENCE — linear, no quadratic candidate risk anywhere;
    // this is why span removal scales where pairwise Jaccard needs
    // banding. Span semantics: [start_tok, end_tok] 1-based inclusive,
    // end = last flagged start + 7.
    "d11_dup_spans" -> Q(
      run = (s, d) => {
        val toks = Tables.documents(s, d)
          .select(col("doc_id"), split(col("text"), " ").as("w"))
        val grams = toks.select(col("doc_id"),
            posexplode(expr("""CASE WHEN size(w) >= 8
              THEN transform(sequence(1, size(w) - 7),
                i -> md5(concat_ws(' ', slice(w, i, 8))))
              ELSE array() END""")).as(Seq("p0", "h")))
          .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"),
            col("h"))
        val dup = grams.groupBy(col("h"))
          .agg(countDistinct(col("doc_id")).as("nd"))
          .filter(col("nd") >= 2).select("h")
        val flagged = grams.join(dup, "h").select("doc_id", "pos")
        import org.apache.spark.sql.expressions.Window
        val w1 = Window.partitionBy("doc_id").orderBy("pos")
        val runs = flagged
          .withColumn("brk",
            when(col("pos") - lag(col("pos"), 1).over(w1) <= 8, lit(0))
              .otherwise(lit(1)))
          .withColumn("run", sum(col("brk")).over(w1))
        runs.groupBy(col("doc_id"), col("run"))
          .agg(min(col("pos")).as("start_tok"),
            (max(col("pos")) + 7).as("end_tok"),
            count(lit(1)).as("n_grams"))
          .select(col("doc_id"), col("start_tok"), col("end_tok"),
            col("n_grams"))
          .orderBy("doc_id", "start_tok")
      },
      oracle = Some("""
        WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w
                      FROM documents),
        grams AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
                         md5(array_to_string(w[i:i+7], ' ')) AS h
                  FROM toks, unnest(CASE WHEN len(w) >= 8
                                    THEN generate_series(1, len(w) - 7)
                                    ELSE [] END) AS r(i)),
        dup AS (SELECT h FROM grams GROUP BY h
                HAVING count(DISTINCT doc_id) >= 2),
        f AS (SELECT doc_id, pos FROM grams JOIN dup USING (h)),
        m AS (SELECT doc_id, pos,
                     CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id
                            ORDER BY pos) <= 8
                          THEN 0 ELSE 1 END AS brk
              FROM f),
        runs AS (SELECT doc_id, pos,
                        sum(brk) OVER (PARTITION BY doc_id
                          ORDER BY pos) AS run
                 FROM m)
        SELECT doc_id, min(pos) AS start_tok,
               CAST(max(pos) + 7 AS BIGINT) AS end_tok,
               count(*) AS n_grams
        FROM runs GROUP BY doc_id, run ORDER BY doc_id, start_tok""")),

    // ── Asymmetric containment near-dup (subset/quote detection) ───────
    // Containment C(a⊆b) = |Sa∩Sb| / |Sa| — the ONE-SIDED Jaccard
    // variant that catches what symmetric Jaccard misses: a short
    // document wholly quoted inside a much longer one scores
    // C(short⊆long) ≈ 1 while J ≈ |Sa|/|Sb| ≈ 0. This is the dedup
    // signal for quote-inclusion / page-within-crawl / boilerplate
    // supersets. Same shared-shingle equi-join shape as d02, but over
    // ORDERED pairs with the lossless one-sided length prefilter
    // (C ≥ τ ⇒ |Sb| ≥ shared ≥ τ·|Sa|) — never all-pairs; hot-shingle
    // skew shares d02's documented bound with d03 as the scale path.
    "d12_containment" -> Q(
      run = (s, d) => {
        val t = 0.5999
        val sh = shingled(s, d)
        val ex = sh.select(col("doc_id"), size(col("s")).as("sz"),
          explode(col("s")).as("g"))
        // same exact-quadratic shape as d02 → same executable guard
        // (and the same memoized pair mass — one scan per (session, dir))
        guardJaccardBudget(s, d, ex)
        val cand = ex.as("a")
          .join(ex.as("b"),
            col("a.g") === col("b.g")
              && col("a.doc_id") =!= col("b.doc_id")
              && col("b.sz") >= col("a.sz") * t)
          .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
            col("a.sz").as("sza"))
          .agg(count(lit(1)).as("shared"))
        val cont = round(col("shared") * lit(10000.0) / col("sza"), 0)
          .cast("long")
        cand.select(col("da"), col("db"), col("shared"),
            cont.as("cont_e4"))
          .filter(col("cont_e4") >= 6000)
          .orderBy("da", "db")
      },
      oracle = Some(s"""
        WITH sh AS (SELECT doc_id, $sqlShingle AS s FROM documents),
        sz AS (SELECT doc_id, len(s) AS sz FROM sh),
        ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
        cand AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS shared
                 FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id <> b.doc_id
                 GROUP BY 1, 2)
        SELECT da, db, shared,
               CAST(round(shared * 10000.0 / x.sz) AS BIGINT) AS cont_e4
        FROM cand JOIN sz x ON da = x.doc_id
        WHERE CAST(round(shared * 10000.0 / x.sz) AS BIGINT) >= 6000
        ORDER BY da, db""")),

    // ── Duplication census (the dedup audit card) ──────────────────────
    // The observability readout a pipeline owner looks at before and
    // after a dedup run: cluster-size histogram over the WHOLE corpus —
    // singletons included (docs in no near-dup pair, reconstructed as
    // n_docs − |clustered|) — with per-class document counts and the
    // removable overhead Σ(size−1). Everything downstream of d06's
    // cluster table is metadata-sized (|clusters| rows → 4 class rows);
    // the corpus contributes one scalar count. At 100 TB this is the
    // same d03+d06 work plus pennies.
    "d13_dup_census" -> Q(
      run = (s, d) => {
        val cl = graft.SparkEntry.queries("d06_dup_clusters")(s, d)
        val sizes = cl.groupBy("cluster_id").agg(count(lit(1)).as("sz"))
        val cls = sizes.withColumn("size_class",
          when(col("sz") === 2, lit("2"))
            .when(col("sz") <= 5, lit("3-5")).otherwise(lit("6+")))
          .groupBy("size_class")
          .agg(count(lit(1)).as("n_clusters"), sum(col("sz")).as("n_docs"),
            sum(col("sz") - 1).as("n_removable"))
        val nDocs = Tables.documents(s, d)
          .agg(count(lit(1)).as("total")).select(col("total"))
        val clustered = cl.agg(count(lit(1)).as("in_cl")).select(col("in_cl"))
        val singletons = nDocs.crossJoin(clustered)
          .select(lit("1").as("size_class"),
            (col("total") - col("in_cl")).as("n_clusters"),
            (col("total") - col("in_cl")).as("n_docs"),
            lit(0L).as("n_removable"))
        singletons.unionByName(cls).orderBy("size_class")
      },
      oracle = Some(s"""
        WITH RECURSIVE pairs AS ($d03OracleSql),
        edges AS (SELECT da AS a, db AS b FROM pairs
                  UNION SELECT db, da FROM pairs),
        reach(n, m) AS (
          SELECT a, a FROM edges
          UNION
          SELECT r.n, e.b FROM reach r JOIN edges e ON r.m = e.a),
        cl AS (SELECT n AS doc_id, min(m) AS cluster_id
               FROM reach GROUP BY n),
        sizes AS (SELECT cluster_id, count(*) AS sz FROM cl GROUP BY 1),
        cls AS (SELECT CASE WHEN sz = 2 THEN '2'
                            WHEN sz <= 5 THEN '3-5' ELSE '6+' END AS size_class,
                       CAST(count(*) AS BIGINT) AS n_clusters,
                       CAST(sum(sz) AS BIGINT) AS n_docs,
                       CAST(sum(sz - 1) AS BIGINT) AS n_removable
                FROM sizes GROUP BY 1),
        tot AS (SELECT count(*) AS total FROM documents),
        incl AS (SELECT count(*) AS in_cl FROM cl)
        SELECT '1' AS size_class,
               CAST(total - in_cl AS BIGINT) AS n_clusters,
               CAST(total - in_cl AS BIGINT) AS n_docs,
               CAST(0 AS BIGINT) AS n_removable
        FROM tot, incl
        UNION ALL
        SELECT * FROM cls
        ORDER BY size_class""")),

    // ── Soft dedup: downweight duplicates instead of dropping ──────────
    // The SlimPajama-style alternative to d09's hard keep: every doc
    // survives, but its training weight is 1/|cluster| (integer ppm),
    // so a 3-way near-dup family contributes one document's worth of
    // gradient in expectation. Shape: d06's cluster table → |clusters|-
    // sized size agg → two left joins back onto documents (the cluster
    // map is dup-table-sized, broadcastable in practice; the corpus is
    // touched once). Singletons never join and default to weight 1e6 —
    // the LEFT joins are load-bearing, an inner join would silently
    // drop every unique doc. At 100 TB the only corpus-sized stage is
    // the final join; everything upstream is d03+d06 work already paid.
    "d14_dup_weighting" -> Q(
      run = (s, d) => {
        val cl = graft.SparkEntry.queries("d06_dup_clusters")(s, d)
        val sizes = cl.groupBy("cluster_id").agg(count(lit(1)).as("csize"))
        Tables.documents(s, d).select(col("doc_id"))
          .join(cl, Seq("doc_id"), "left")
          .join(sizes, Seq("cluster_id"), "left")
          .select(col("doc_id"),
            coalesce(col("csize"), lit(1L)).as("cluster_size"),
            expr("CAST(1000000 div coalesce(csize, 1L) AS BIGINT)")
              .as("weight_ppm"))
          .orderBy("doc_id")
      },
      oracle = Some(s"""
        WITH RECURSIVE pairs AS ($d03OracleSql),
        edges AS (SELECT da AS a, db AS b FROM pairs
                  UNION SELECT db, da FROM pairs),
        reach(n, m) AS (
          SELECT a, a FROM edges
          UNION
          SELECT r.n, e.b FROM reach r JOIN edges e ON r.m = e.a),
        cl AS (SELECT n AS doc_id, min(m) AS cluster_id
               FROM reach GROUP BY n),
        sz AS (SELECT cluster_id, count(*) AS csize FROM cl GROUP BY 1)
        SELECT d.doc_id,
               CAST(COALESCE(s.csize, 1) AS BIGINT) AS cluster_size,
               CAST(1000000 // COALESCE(s.csize, 1) AS BIGINT) AS weight_ppm
        FROM documents d
        LEFT JOIN cl ON d.doc_id = cl.doc_id
        LEFT JOIN sz s ON cl.cluster_id = s.cluster_id
        ORDER BY d.doc_id""")),

    // ── LSH banding recall eval (the dedup-quality harness) ────────────
    // s05's role for the dedup stack: how many of the TRUE near-dup
    // pairs (d02's exhaustive shared-shingle join, the exact ground
    // truth) does d03's MinHash banding actually surface? Both sides
    // verify candidates at the same exact-Jaccard ≥ 0.3 cut, so d03 ⊆
    // d02 and precision is 1 by construction — the number that moves
    // (and that band/row tuning trades against cost) is RECALL. This is
    // the measurement behind SCALE.md's "d03 is d02's scale path" claim
    // and the dial a 100 TB run turns before committing to a banding
    // config. Both inputs are pair-list-sized; the eval join and the
    // scalar card are metadata work.
    "d15_lsh_eval" -> Q(
      run = (s, d) => {
        val exact = graft.SparkEntry.queries("d02_ngram_jaccard")(s, d)
          .select(col("da"), col("db"))
        val lsh = graft.SparkEntry.queries("d03_minhash_lsh")(s, d)
          .select(col("da").as("lda"), col("db").as("ldb"))
        exact.join(lsh,
          col("da") === col("lda") && col("db") === col("ldb"), "left")
          .agg(count(lit(1)).as("n_exact"), count(col("lda")).as("n_lsh_hit"))
          .select(col("n_exact"), col("n_lsh_hit"),
            (col("n_exact") - col("n_lsh_hit")).as("n_missed"),
            // zero-denominator guard: Spark's non-ANSI NaN→0 cast and
            // DuckDB's x/0→NULL disagree, so both engines special-case
            // an empty truth set explicitly (same guard in d17/d19)
            when(col("n_exact") === 0, lit(0L))
              .otherwise(round(col("n_lsh_hit") * lit(10000.0)
                / col("n_exact"), 0).cast("long")).as("recall_e4"))
      },
      oracle = Some(s"""
        WITH sh AS (SELECT doc_id, $sqlShingle AS s FROM documents),
        sz AS (SELECT doc_id, len(s) AS sz FROM sh),
        ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
        cand AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS shared
                 FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
                 GROUP BY 1, 2),
        exact AS (
          SELECT da, db
          FROM cand JOIN sz x ON da = x.doc_id JOIN sz y ON db = y.doc_id
          WHERE CAST(round(shared * 10000.0 / (x.sz + y.sz - shared))
                AS BIGINT) >= 3000),
        lsh AS (SELECT da, db FROM ($d03OracleSql))
        SELECT CAST(count(*) AS BIGINT) AS n_exact,
               CAST(count(l.da) AS BIGINT) AS n_lsh_hit,
               CAST(count(*) - count(l.da) AS BIGINT) AS n_missed,
               CASE WHEN count(*) = 0 THEN 0
                    ELSE CAST(round(count(l.da) * 10000.0 / count(*))
                         AS BIGINT) END AS recall_e4
        FROM exact e LEFT JOIN lsh l ON e.da = l.da AND e.db = l.db""")),

    // ── Hot-shingle skew audit (the d02-vs-d03 routing decision) ───────
    // SCALE.md's standing caveat on every shared-token join is "hot
    // shingles go quadratic"; this is the audit that MEASURES it before
    // a run commits to the exact path: per-shingle doc frequency c
    // contributes c·(c−1)/2 candidate pairs, so the top-k hot shingles
    // + each one's share of the total pair budget (ppm) IS the routing
    // decision — a head shingle carrying double-digit percent of all
    // pairs says "band it (d03) or drop it (stopword-filter the join)".
    // Shape: the memoized shingle relation → one shingle-keyed count
    // agg (partial map-side) → pair math per row → global top-20 via
    // TakeOrdered (never a full sort); the total-pairs denominator is a
    // one-row scalar agg crossed back broadcast (the p01 pattern).
    "d16_hot_shingles" -> Q(
      run = (s, d) => {
        val freq = shingled(s, d)
          .select(explode(col("s")).as("g"))
          .groupBy("g").agg(count(lit(1)).as("c"))
          // exact int64 pair math (matches the oracle's `//`): never the
          // float Divide path, which silently loses bits past 2^53
          .select(col("g"), col("c"),
            expr("c * (c - 1) div 2").as("pairs"))
        val tot = freq.agg(sum("pairs").as("tot_pairs"))
        freq.crossJoin(broadcast(tot))
          .select(col("g"), col("c").as("n_docs"), col("pairs"),
            expr("pairs * 1000000L div tot_pairs").as("pair_share_ppm"))
          .orderBy(col("pairs").desc, col("g"))
          .limit(20)
      },
      oracle = Some(s"""
        WITH sh AS (SELECT doc_id, $sqlShingle AS s FROM documents),
        freq AS (SELECT g, count(*) AS c FROM
                   (SELECT doc_id, unnest(s) AS g FROM sh)
                 GROUP BY 1),
        p AS (SELECT g, CAST(c AS BIGINT) AS n_docs,
                     CAST(c * (c - 1) // 2 AS BIGINT) AS pairs
              FROM freq),
        tot AS (SELECT CAST(sum(pairs) AS BIGINT) AS tot_pairs FROM p)
        SELECT g, n_docs, pairs,
               pairs * 1000000 // tot_pairs AS pair_share_ppm
        FROM p, tot
        ORDER BY pairs DESC, g LIMIT 20""")),

    // ── LSH candidate precision / F1 (the other half of d15) ───────────
    // d15 scores the banding's RECALL; this scores its candidate-stage
    // PRECISION — the fraction of banded candidate pairs that survive
    // exact verification — which is the verify-stage cost knob: more
    // bands buy recall but each extra band dilutes precision and every
    // false candidate pays a full Jaccard verification. TP counted via
    // ONE full-outer join of the two pair relations (both orders of
    // magnitude smaller than the corpus); F1 derives exactly from
    // integer counts (2·TP/(|C|+|E|)), no float chain. Together
    // d15+d17 are the band-count tuning instrument, the way s05/s18/
    // s19 tune planes/probes.
    "d17_lsh_precision" -> Q(
      run = (s, d) => {
        val sig = signatures(s, d)
        val bands = bandedSignatures(s, d)
        val cand = bands.as("a")
          .join(bands.as("b"),
            col("a.band") === col("b.band") && col("a.key") === col("b.key")
              && col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
          .distinct()
        val exact = graft.SparkEntry.queries("d02_ngram_jaccard")(s, d)
          .select(col("da").as("eda"), col("db").as("edb"))
        cand.join(exact,
            col("da") === col("eda") && col("db") === col("edb"),
            "full_outer")
          .agg(count(col("da")).as("n_cand"),
            count(col("eda")).as("n_exact"),
            sum(when(col("da").isNotNull && col("eda").isNotNull, 1L)
              .otherwise(0L)).as("n_tp"))
          .select(col("n_cand"), col("n_exact"), col("n_tp"),
            // zero-denominator guards: see d15's comment
            when(col("n_cand") === 0, lit(0L))
              .otherwise(round(col("n_tp") * lit(10000.0) / col("n_cand"), 0)
                .cast("long")).as("precision_e4"),
            when(col("n_exact") === 0, lit(0L))
              .otherwise(round(col("n_tp") * lit(10000.0) / col("n_exact"), 0)
                .cast("long")).as("recall_e4"),
            when(col("n_cand") + col("n_exact") === 0, lit(0L))
              .otherwise(round(col("n_tp") * lit(20000.0)
                / (col("n_cand") + col("n_exact")), 0)
                .cast("long")).as("f1_e4"))
      },
      oracle = Some(s"""
        WITH sh AS (SELECT doc_id, $sqlShingle AS s FROM documents),
        sz AS (SELECT doc_id, len(s) AS sz FROM sh),
        exx AS (SELECT doc_id, unnest(s) AS g FROM sh),
        cnt AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS shared
                FROM exx a JOIN exx b ON a.g = b.g AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
        exact AS (SELECT da, db
                  FROM cnt JOIN sz x ON da = x.doc_id
                           JOIN sz y ON db = y.doc_id
                  WHERE CAST(round(shared * 10000.0
                        / (x.sz + y.sz - shared)) AS BIGINT) >= 3000),
        sig AS (SELECT doc_id, s,
               $sigSql
               FROM sh),
        bands AS ($bandSql),
        cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
                 FROM bands a JOIN bands b
                   ON a.band = b.band AND a.key = b.key
                  AND a.doc_id < b.doc_id),
        j AS (SELECT c.da AS cda, e.da AS eda
              FROM cand c FULL OUTER JOIN exact e
                ON c.da = e.da AND c.db = e.db),
        agg AS (SELECT CAST(count(cda) AS BIGINT) AS n_cand,
                       CAST(count(eda) AS BIGINT) AS n_exact,
                       CAST(sum(CASE WHEN cda IS NOT NULL
                                      AND eda IS NOT NULL
                                     THEN 1 ELSE 0 END) AS BIGINT) AS n_tp
                FROM j)
        SELECT n_cand, n_exact, n_tp,
               CASE WHEN n_cand = 0 THEN 0
                    ELSE CAST(round(n_tp * 10000.0 / n_cand) AS BIGINT) END
                 AS precision_e4,
               CASE WHEN n_exact = 0 THEN 0
                    ELSE CAST(round(n_tp * 10000.0 / n_exact) AS BIGINT) END
                 AS recall_e4,
               CASE WHEN n_cand + n_exact = 0 THEN 0
                    ELSE CAST(round(n_tp * 20000.0 / (n_cand + n_exact))
                         AS BIGINT) END AS f1_e4
        FROM agg""")),

    // ── Sparse TF-IDF dot-product similarity (lexical doc-doc top-k) ───
    // The LEXICAL twin of d05's embedding near-dup: document pairs
    // scored by Σ_t w(a,t)·w(b,t) over shared TERMS, computed as an
    // inverted-index self-join — the sparse-vector formulation that
    // needs no embeddings and no all-pairs stage. Weights are t06's
    // e4-scaled integer tf·idf (one ln per (term, corpus), rounded
    // once — t16's discipline), so products and sums are exact int64
    // both engines. The df prune is TWO-TIER and applied BEFORE pair
    // generation — both tiers are load-bearing, measured on this
    // fixture's own ladder:
    //   - relative (df·5 ≤ n: drop terms in >20% of docs, exact
    //     integer compare) — the stopword tier; an absolute-only cap
    //     EMPTIES as the corpus grows (31-word vocab, every df scales
    //     with n, so at sf0.1 no term has df ≤ 100);
    //   - absolute (df ≤ 1000) — the cost tier; a relative-only cap
    //     EXPLODES under sharded/replicated vocab (sf1's 10 key-
    //     shifted replicas make every suffixed term "rare" relative
    //     to 10n, admitting ~all terms → Σ df² ≈ billions of pairs;
    //     observed before this cap existed).
    // Together: pair cost ≤ 1000·Σ df (linear in corpus), and the
    // terms that survive are exactly the informative mid-frequency
    // band — d02/d16's hot-key argument as query structure.
    // Output: top-20 pairs by dot (ties → doc ids) via TakeOrdered.
    "d18_tfidf_similarity" -> Q(
      run = (s, d) => {
        // Round 15 (guide §2.4/§5, the d20 treatment): the weighted
        // doc-term relation feeds BOTH sides of the tok self-join, and
        // tf feeds both df and w — without cuts the executed plan ran
        // the tokenize+aggregate chain once PER CONSUMER (8 parquet
        // scans of documents, two full explodes per side). Cut tf once
        // (one explode+aggregate ever) and w once (both join sides read
        // its blocks); stray release via the trackCut contract.
        val toks = Tables.documents(s, d)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
          .localCheckpoint(true)
        graft.Caches.trackCut(tf)
        val n = Tables.documents(s, d).agg(count(lit(1)).as("n"))
        val df = tf.groupBy("tok").agg(count(lit(1)).as("df"))
          .crossJoin(broadcast(n))
          .filter(col("df") * 5 <= col("n") && col("df") <= 1000)
          .select("tok", "df")
        val w = tf.join(df, "tok").crossJoin(broadcast(n))
          .select(col("tok"), col("doc_id"),
            round(col("tf") * log(col("n").cast("double") / col("df"))
              * 10000, 0).cast("long").as("w"))
          .localCheckpoint(true)
        graft.Caches.trackCut(w)
        val dots = w.as("a")
          .join(w.as("b"),
            col("a.tok") === col("b.tok")
              && col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
          .agg(sum(col("a.w") * col("b.w")).as("dot"))
        dots.orderBy(col("dot").desc, col("da"), col("db")).limit(20)
      },
      oracle = Some("""
        WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                      FROM documents),
        tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
        n AS (SELECT count(*) AS n FROM documents),
        df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1
               HAVING count(*) * 5 <= (SELECT n FROM n)
                  AND count(*) <= 1000),
        w AS (SELECT tf.tok, tf.doc_id,
                     CAST(round(tf.tf * ln(CAST(n.n AS DOUBLE) / df.df)
                       * 10000) AS BIGINT) AS w
              FROM tf JOIN df USING (tok), n),
        dots AS (SELECT a.doc_id AS da, b.doc_id AS db,
                        CAST(sum(a.w * b.w) AS BIGINT) AS dot
                 FROM w a JOIN w b
                   ON a.tok = b.tok AND a.doc_id < b.doc_id
                 GROUP BY 1, 2)
        SELECT da, db, dot FROM dots
        ORDER BY dot DESC, da, db LIMIT 20"""),
      benchHeavy = true),

    // ── LSH banding sweep: recall/precision across (b, r) configs ──────
    // d15/d17 evaluate THE production banding (4 bands × 3 rows); this
    // is the instrument that PICKS it — e23's sweep pattern applied to
    // the dedup stack. The same 12 memoized signatures are re-banded
    // three ways (2×6, 4×3, 6×2; the S-curve P(cand) = 1−(1−j^r)^b
    // steepens left to right), each config's candidates are scored
    // against d02's exact ≥0.3-Jaccard truth, and ONE 3-row table
    // reports n_cand (verify cost), recall and precision per config —
    // the whole trade on one screen. Nothing new is hashed: banding is
    // column concatenation over the cached sig relation, so the sweep
    // costs 3 bucket-joins, not 3 signature passes. At 100 TB the same
    // query runs on a SAMPLE dir first (the sweep is a tuning
    // instrument, not a production stage — d15's framing).
    "d19_banding_sweep" -> Q(
      run = (s, d) => {
        val sig = signatures(s, d)
        val exact = graft.Caches.trackCut(
          graft.SparkEntry.queries("d02_ngram_jaccard")(s, d)
            .select(col("da"), col("db")).localCheckpoint(true))
        val configs = Seq((2, 6), (4, 3), (6, 2))
        configs.map { case (nb, rpb) =>
          val bandKeys = (0 until nb).map { b =>
            concat_ws("|",
              (0 until rpb).map(j => col(s"sig${b * rpb + j}")): _*)
          }
          // same null-signature drop as [[bandedSignatures]]
          val bands = sig.filter(col("sig0").isNotNull)
            .select(col("doc_id"),
              posexplode(array(bandKeys: _*)).as(Seq("band", "key")))
          val cand = bands.as("x")
            .join(bands.as("y"),
              col("x.band") === col("y.band") && col("x.key") === col("y.key")
                && col("x.doc_id") < col("y.doc_id"))
            .select(col("x.doc_id").as("cda"), col("y.doc_id").as("cdb"))
            .distinct()
          val joined = cand
            .join(exact,
              col("cda") === col("da") && col("cdb") === col("db"), "left")
            .agg(count(lit(1)).as("n_cand"), count(col("da")).as("n_tp"))
          val nExact = exact.agg(count(lit(1)).as("n_exact"))
          joined.crossJoin(broadcast(nExact))
            .select(lit(nb.toLong).as("bands"), lit(rpb.toLong).as("rows_per_band"),
              col("n_cand"), col("n_tp"),
              when(col("n_exact") === 0, lit(0L))
                .otherwise(round(col("n_tp") * lit(10000.0)
                  / col("n_exact"), 0).cast("long")).as("recall_e4"),
              when(col("n_cand") === 0, lit(0L))
                .otherwise(round(col("n_tp") * lit(10000.0)
                  / col("n_cand"), 0).cast("long")).as("precision_e4"))
        }.reduce(_.unionAll(_)).orderBy("bands")
      },
      oracle = Some {
        def bandsFor(nb: Int, rpb: Int): String =
          (0 until nb).map { b =>
            val ks = (0 until rpb).map(j => s"sig${b * rpb + j}")
            s"SELECT doc_id, $b AS band, ${ks.mkString(" || '|' || ")} AS key FROM sig"
          }.mkString("\n          UNION ALL ")
        def cfg(nb: Int, rpb: Int): String =
          s"""SELECT $nb AS bands, $rpb AS rows_per_band,
             |       CAST(count(*) AS BIGINT) AS n_cand,
             |       CAST(count(e.da) AS BIGINT) AS n_tp,
             |       CASE WHEN (SELECT count(*) FROM exact) = 0 THEN 0
             |            ELSE CAST(round(count(e.da) * 10000.0
             |              / (SELECT count(*) FROM exact)) AS BIGINT) END
             |         AS recall_e4,
             |       CASE WHEN count(*) = 0 THEN 0
             |            ELSE CAST(round(count(e.da) * 10000.0 / count(*))
             |                 AS BIGINT) END AS precision_e4
             |FROM (SELECT DISTINCT a.doc_id AS cda, b.doc_id AS cdb
             |      FROM (${bandsFor(nb, rpb)}) a
             |      JOIN (${bandsFor(nb, rpb)}) b
             |        ON a.band = b.band AND a.key = b.key
             |       AND a.doc_id < b.doc_id) c
             |LEFT JOIN exact e ON c.cda = e.da AND c.cdb = e.db""".stripMargin
        s"""
        WITH sh AS (SELECT doc_id, $sqlShingle AS s FROM documents),
        sig AS MATERIALIZED (SELECT doc_id, s,
               $sigSql
               FROM sh),
        sz AS (SELECT doc_id, len(s) AS sz FROM sh),
        ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
        ecand AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS shared
                  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
                  GROUP BY 1, 2),
        exact AS MATERIALIZED (
          SELECT da, db
          FROM ecand JOIN sz x ON da = x.doc_id JOIN sz y ON db = y.doc_id
          WHERE CAST(round(shared * 10000.0 / (x.sz + y.sz - shared))
                AS BIGINT) >= 3000)
        ${cfg(2, 6)}
        UNION ALL
        ${cfg(4, 3)}
        UNION ALL
        ${cfg(6, 2)}
        ORDER BY bands"""
      }),

    // ── Blocked entity resolution (edit-distance record linkage) ───────
    // The RECORD twin of the text dedup stack: near-duplicate ENTITY
    // rows (names here) via the two-tier MDM pipeline —
    //   tier 1: EXACT collapse (d01's hash-agg) folds identical names
    //     into (name, mult) representatives. Load-bearing, measured:
    //     without it, sf1's replica-duplicated names grew every block
    //     10× and the pair join 100× (742 500 → 74 250 000 scored
    //     pairs — quadratic in duplication, observed before this tier
    //     existed);
    //   tier 2: prefix blocking (all but the last 2 chars, derived from
    //     each name's OWN length — not a fixed prefix width, so 9+-digit
    //     keys at large SF keep the same 2-char suffix alphabet) + exact
    //     intra-block levenshtein over DISTINCT names only. The block
    //     key bounds each block at the suffix-alphabet size no matter
    //     the corpus, so scored pairs are Σ|distinct-block|² ≤ C·|V| —
    //     d03's bucket argument with the block key playing the band.
    // Hot-block guard (the d05-cap / s24-audit pattern applied to
    // blocked ER): a natural-name corpus where many names share the
    // blocking prefix makes ONE hot block and the within-block join
    // goes quadratic — the exact failure mode this query exists to
    // prevent — so the hottest block size is computed at plan-build
    // time, FAILS LOUDLY above `maxBlock`, and is emitted as the
    // `max_block` audit column (oracle-checked) so drift is visible
    // before it is fatal.
    // Linked-pair accounting is at ROW grain, recovered from the
    // representatives exactly: cross-group links weigh mult_a·mult_b,
    // exact-dup groups contribute c·(c−1)/2 internally (d16's pair
    // math). levenshtein() is exact DP in both engines; ≤1 = one
    // character of drift, the typo'd-duplicate gate.
    "d20_entity_blocks" -> Q(
      run = (s, d) => entityBlocks(Tables.customer(s, d)),
      oracle = Some("""
        WITH names AS (SELECT c_name AS name, count(*) AS mult,
                              substr(c_name, 1, length(c_name) - 2) AS blk
                       FROM customer GROUP BY 1),
        pairs AS (SELECT levenshtein(a.name, b.name) AS dist,
                         a.mult * b.mult AS w
                  FROM names a JOIN names b
                    ON a.blk = b.blk AND a.name < b.name),
        pagg AS (SELECT CAST(count(*) AS BIGINT) AS n_cand_pairs,
                        CAST(sum(CASE WHEN dist <= 1 THEN w ELSE 0 END)
                          AS BIGINT) AS n_linked_row_pairs
                 FROM pairs),
        bagg AS (SELECT CAST(count(DISTINCT blk) AS BIGINT) AS n_blocks,
                        CAST(count(*) AS BIGINT) AS n_distinct_names,
                        CAST(sum(mult * (mult - 1) // 2) AS BIGINT)
                          AS n_exact_dup_pairs
                 FROM names),
        hot AS (SELECT CAST(max(bn) AS BIGINT) AS max_block
                FROM (SELECT count(*) AS bn FROM names GROUP BY blk))
        SELECT n_blocks, n_distinct_names, n_exact_dup_pairs,
               n_cand_pairs, n_linked_row_pairs, max_block
        FROM bagg, pagg, hot"""),
      benchHeavy = true),

    // ── Incremental cluster repair (the document-UPDATE margin) ───────
    // d07 covers brand-new docs vs the corpus; the symmetric production
    // case is a corpus REFRESH: re-ingested docs whose content CHANGED
    // (same doc_id, new hash — p19 detects them) invalidate their prior
    // d06 cluster membership. Full re-cluster is corpus-sized; this
    // repairs ONLY the touched components: multi-source BFS from the
    // changed docs over the pair graph closes over exactly their whole
    // components (operators.ClusterRepair), then min-label CC runs on
    // that subgraph alone — ids provably equal the full recompute's for
    // those components, so prior ∪ repaired ≡ full re-run
    // (ClusterRepairSpec pins the untouched-component no-op and the
    // splice identity). "Changed" docs are a content-stable 10% hash
    // bucket (doc_id-md5 ≥ 90 — disjoint discipline from d07's < 20
    // "new" bucket) so the oracle sees the same refresh. Scale: repair
    // cost tracks the DELTA times duplication structure, not the
    // corpus — BFS rounds are frontier-sized, CC runs on |affected|.
    // Oracle: d06's full recursive closure RESTRICTED to components
    // containing a changed doc.
    "d21_cluster_repair" -> Q(
      run = (s, d) => {
        val pairs = graft.SparkEntry.queries("d03_minhash_lsh")(s, d)
          .select(col("da"), col("db"))
        val changed = Tables.documents(s, d)
          .select(col("doc_id").as("node"))
          .filter(changedBucketPred(col("node")))
        graft.operators.ClusterRepair.repair(pairs, changed)
          .select(col("node").as("doc_id"), col("component").as("cluster_id"))
          .orderBy("doc_id")
      },
      oracle = Some(s"""
        WITH RECURSIVE pairs AS ($d03OracleSql),
        edges AS (SELECT da AS a, db AS b FROM pairs
                  UNION SELECT db, da FROM pairs),
        reach(n, m) AS (
          SELECT a, a FROM edges
          UNION
          SELECT r.n, e.b FROM reach r JOIN edges e ON r.m = e.a),
        comp AS (SELECT n AS doc_id, min(m) AS cluster_id
                 FROM reach GROUP BY n),
        changed AS (SELECT doc_id FROM documents
                    WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 >= 90),
        touched AS (SELECT DISTINCT cluster_id
                    FROM comp JOIN changed USING (doc_id))
        SELECT doc_id, cluster_id FROM comp JOIN touched USING (cluster_id)
        ORDER BY doc_id"""))
  )

  /** d09's keep policy factored out (round 14): within each cluster
    * keep the highest-quality member (ties → lowest doc_id) — shared
    * by d09 (full d06 clustering) and p27 (the incrementally-REFRESHED
    * clustering), so the two paths' decision step cannot drift.
    * `clusters` = (doc_id, cluster_id); `quality` = (doc_id,
    * quality_e4). One keyed window over the (tiny) cluster relation —
    * never the scale bottleneck. */
  private[queries] def canonicalKeep(clusters: DataFrame,
      quality: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("cluster_id")
      .orderBy(col("quality_e4").desc, col("doc_id"))
    clusters.join(quality, "doc_id")
      .withColumn("rn", row_number().over(w))
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"),
        max(when(col("rn") === 1, col("doc_id"))).as("kept_doc"),
        max(when(col("rn") === 1, col("quality_e4"))).as("kept_quality_e4"))
      .orderBy("cluster_id")
  }

  /** d21/p27's "changed docs" bucket (round 15, the r14 advice):
    * content-stable 10% hash bucket (doc_id-md5 ≥ 90 — disjoint from
    * d07's < 20 "new" bucket by construction). Factored like
    * [[canonicalKeep]] so p27's fixture predicate cannot drift from
    * d21's if the bucket definition ever moves; both queries' DuckDB
    * oracles inline the same `('0x' || substr(md5(...), 1, 8))::BIGINT
    * % 100 >= 90` expression. */
  private[queries] def changedBucketPred(docId: Column): Column =
    conv(substring(md5(docId.cast("string")), 1, 8), 16, 10)
      .cast("long") % 100 >= 90

  /** d20's engine, factored out so the hot-block guard is testable
    * against an adversarial shared-prefix fixture without a parquet
    * round-trip. `maxBlock` caps the hottest block's DISTINCT-name
    * count: within-block scoring is quadratic in block size, so a
    * shared-prefix corpus must fail at plan-build time (one
    * metadata-sized aggregate over block counts — the d05 200k-vector
    * refusal pattern), not silently run Σ B² pair joins. */
  private[graft] def entityBlocks(customer: DataFrame,
      maxBlock: Long = 1000L): DataFrame = {
    // Round 15 (guide §2.4/§5): the representative relation is consumed
    // FOUR times — the hot-block guard's eager aggregate, both sides of
    // the within-block self-join, and the block census — and each
    // consumer used to re-scan customer and re-run the exact-collapse
    // hash aggregate. One lineage cut materializes it once (|distinct
    // names| rows, the relation this query exists to shrink to); every
    // consumer now reads blocks. Stray release via the round-12
    // trackCut contract, same as s09's quantized relation.
    val names = customer
      .groupBy(col("c_name").as("name"))
      .agg(count(lit(1)).as("mult"))
      .withColumn("blk", expr("substring(name, 1, length(name) - 2)"))
      .localCheckpoint(true)
    graft.Caches.trackCut(names)
    val hottest = names.groupBy("blk").agg(count(lit(1)).as("bn"))
      .agg(coalesce(max("bn"), lit(0L)).as("m")).head.getLong(0)
    require(hottest <= maxBlock,
      s"d20 hot-block guard: hottest block holds $hottest distinct names " +
        s"(cap $maxBlock); within-block scoring is quadratic in block " +
        "size, so this corpus needs a finer blocking key (longer prefix, " +
        "or phonetic/sorted-neighborhood blocking) before linkage")
    // threshold-bounded levenshtein: only dist ≤ 1 matters downstream,
    // and the 3-arg form short-circuits the DP to an O(len·k) band
    // (returns -1 above the threshold) instead of filling the full
    // O(len²) matrix per candidate pair — the per-pair constant that
    // dominates blocked ER at corpus scale. The DuckDB twin keeps the
    // plain levenshtein(...) <= 1 predicate; both agree on the ≤1 set.
    val pairs = names.as("a")
      .join(names.as("b"),
        col("a.blk") === col("b.blk") && col("a.name") < col("b.name"))
      .select(levenshtein(col("a.name"), col("b.name"), 1).as("dist"),
        (col("a.mult") * col("b.mult")).as("w"))
    val pagg = pairs.agg(count(lit(1)).as("n_cand_pairs"),
      sum(when(col("dist") >= 0, col("w")).otherwise(0L))
        .as("n_linked_row_pairs"))
    val bagg = names.agg(countDistinct(col("blk")).as("n_blocks"),
      count(lit(1)).as("n_distinct_names"),
      sum(expr("mult * (mult - 1) div 2")).as("n_exact_dup_pairs"))
    broadcast(bagg).crossJoin(pagg)
      .select(col("n_blocks"), col("n_distinct_names"),
        col("n_exact_dup_pairs"), col("n_cand_pairs"),
        col("n_linked_row_pairs"), lit(hottest).as("max_block"))
  }
}
