package graft

/** DuckDB-oracle SQL for the hash-based operators (MinHash, SimHash,
  * hyperplane LSH, murmur3 bucket transforms).
  *
  * The engine's hash kernels ([[VectorExpressions]], [[IcebergBucketing]],
  * [[Transform.Bucket]]) are deliberately defined over integer recurrences a
  * SQL engine can replay exactly — rolling codepoint fingerprints, affine
  * rehash families, splitmix64, murmur3_x86_32 — so every one of these
  * operators is hash-checkable against an independent engine instead of
  * rows-only. This object *generates* the equivalent DuckDB SQL: 32/64-bit
  * modular arithmetic is spelled out over BIGINT/HUGEINT (DuckDB integers
  * error on overflow rather than wrap, so every multiply is followed by an
  * explicit mod; u64 xor round-trips through signed BIGINT).
  */
object OracleSql {

  private val U64 = "18446744073709551616" // 2^64
  private val U32 = "4294967296" // 2^32

  // ------------------------------------------------------------- u32 ops
  // All u32 values live in non-negative BIGINT; multiplies detour through
  // HUGEINT (u32·u32 can reach 2^64).
  private def u32Mul(x: String, c: Long): String =
    s"CAST((CAST($x AS HUGEINT) * $c) % $U32 AS BIGINT)"

  /** rotate-left on u32: the shifted-out high bits and the shifted-in low
    * bits occupy disjoint ranges, so OR becomes +. */
  private def rotl32(x: String, r: Int): String =
    s"((($x) * ${1L << r}) % $U32 + ($x) // ${1L << (32 - r)})"

  // ------------------------------------------------------------- u64 ops
  // u64 values live in non-negative HUGEINT. u64·u64 exceeds HUGEINT, so
  // the multiply splits the left operand into 32-bit halves.
  private def u64Mul(h: String, c: java.math.BigInteger): String =
    s"((($h) % $U32) * $c % $U64 + ((($h) // $U32) * $c % $U32) * $U32) % $U64"

  private def signed64(x: String): String =
    s"CAST(CASE WHEN ($x) >= 9223372036854775808 THEN ($x) - $U64 ELSE ($x) END AS BIGINT)"

  private def unsigned64(y: String): String =
    s"(CASE WHEN ($y) < 0 THEN CAST(($y) AS HUGEINT) + $U64 ELSE CAST(($y) AS HUGEINT) END)"

  /** h XOR (h >>> k) on u64, via signed BIGINT xor. */
  private def xorShr64(h: String, k: Int): String =
    unsigned64(s"xor(${signed64(h)}, ${signed64(s"($h) // ${1L << k}")})")

  private def big(l: Long) = new java.math.BigInteger(java.lang.Long.toUnsignedString(l))

  // --------------------------------------------------- rolling fingerprints
  private val M61 = "2305843009213693951" // 2^61 - 1, Mersenne prime

  /** fp(s) = fold codepoints: acc -> (acc*31 + cp) mod 2^61-1, as HUGEINT
    * (acc*31 reaches 2^66, past BIGINT; every value stays < 2^61 so the
    * engine's Long lanes agree exactly).
    * Mirrors [[VectorExpressions.codepointFp]]. */
  // The `IF c <> ''` guard matches the engine's zero-codepoint fold for
  // empty tokens: DuckDB string_split('', '') yields [''] with
  // unicode('') = -1, where codepointFp("")/codepointHash64("") return 0.
  private def fp61(strExpr: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS HUGEINT),
       |      [CAST(unicode(c) AS HUGEINT) FOR c IN string_split($strExpr, '') IF c <> '']),
       |      (acc, x) -> (acc * 31 + x) % $M61)""".stripMargin

  /** Rolling codepoint hash mod 2^64 as HUGEINT (pre-splitmix stage of
    * [[VectorExpressions.codepointHash64]]). */
  private def rolling64(strExpr: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS HUGEINT),
       |      [CAST(unicode(c) AS HUGEINT) FOR c IN string_split($strExpr, '') IF c <> '']),
       |      (acc, x) -> (acc * 31 + x) % $U64)""".stripMargin

  // ----------------------------------------------------------- dedup_minhash
  /** Full MinHash+LSH replay: shingle fingerprints, the affine lanes
    * a_i·fp+b_i mod 2^61-1 of [[VectorExpressions.minhashLanes]] rendered
    * as literal lists (the product reaches 2^93 — HUGEINT carries it; the
    * engine uses multiplyHigh), band-slice candidacy (16 bands × 4 rows),
    * and the estimated-Jaccard filter. */
  private val minhashCandCte: String = {
    val (la, lb) = VectorExpressions.minhashLanes(64)
    s"""WITH lanes AS (SELECT ${la.mkString("[", ", ", "]")}::HUGEINT[] AS la,
       |  ${lb.mkString("[", ", ", "]")}::HUGEINT[] AS lb),
       |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |sh AS (SELECT doc_id,
       |  list_distinct([array_to_string(t[i:i+4], ' ')
       |                 FOR i IN generate_series(1, greatest(len(t) - 4, 1))]) AS shs
       |  FROM toks),
       |fps AS (SELECT doc_id,
       |  [${fp61("s")} FOR s IN shs] AS f
       |  FROM sh),
       |sigs AS (SELECT doc_id,
       |  [list_min([(la[i] * fp + lb[i]) % $M61
       |             FOR fp IN f]) FOR i IN generate_series(1, 64)] AS sig
       |  FROM fps, lanes),
       |cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.sig AS sa, b.sig AS sb
       |  FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
       |  WHERE len(list_filter([a.sig[4*bb+1:4*bb+4] = b.sig[4*bb+1:4*bb+4]
       |                         FOR bb IN generate_series(0, 15)], x -> x)) > 0),
       |est AS (SELECT id_a, id_b,
       |  CAST(len(list_filter([sa[i] = sb[i] FOR i IN generate_series(1, 64)],
       |                       x -> x)) AS DOUBLE) / 64 AS est_jaccard
       |  FROM cand
       |  WHERE CAST(len(list_filter([sa[i] = sb[i] FOR i IN generate_series(1, 64)],
       |                             x -> x)) AS DOUBLE) / 64 >= 0.5)""".stripMargin
  }

  val dedupMinhashSql: String =
    s"""$minhashCandCte
       |SELECT id_a, id_b, est_jaccard FROM est
       |ORDER BY id_a, id_b""".stripMargin

  /** Streaming near-dup replay: the [[dedupMinhashSql]] BAND-candidacy
    * stage only (no estimate filter — the stream flags on bucket
    * collision), reduced to each doc's smallest band-sharing
    * predecessor: exactly the single-batch stream's per-bucket
    * first-seen state folded across the doc's 16 buckets. */
  val streamNearDupSql: String =
    s"""$minhashCandCte
       |SELECT id_b AS doc_id, min(id_a) AS first_seen
       |FROM cand GROUP BY 1 ORDER BY 1""".stripMargin

  /** MinHash accuracy audit replay: the [[dedupMinhashSql]] candidate+
    * estimate chain joined back to the TRUE shingle-set Jaccard, with the
    * 9-dp absolute error — both sides of the audit replayed exactly. */
  val dedupMinhashAuditSql: String =
    s"""$minhashCandCte,
       |tj AS (SELECT e.id_a, e.id_b, e.est_jaccard,
       |  CAST(len(list_intersect(a.shs, b.shs)) AS DOUBLE)
       |    / (len(a.shs) + len(b.shs) - len(list_intersect(a.shs, b.shs)))
       |    AS true_jaccard
       |  FROM est e
       |  JOIN sh a ON a.doc_id = e.id_a
       |  JOIN sh b ON b.doc_id = e.id_b)
       |SELECT id_a, id_b, est_jaccard, true_jaccard,
       |  round(abs(est_jaccard - true_jaccard), 9) AS err9
       |FROM tj ORDER BY id_a, id_b""".stripMargin

  // ----------------------------------------------------------- dedup_simhash
  /** SimHash replay: per-token rolling64 + splitmix64 (each finalizer stage
    * is one list-rewrite CTE), per-bit ±1 votes, brute-force pairs with
    * hamming ≤ 3 (banding in the engine is exact for maxDist ≤ 3, so the
    * brute-force pair set is identical). */
  val dedupSimhashSql: String =
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |h0 AS (SELECT doc_id,
       |  [${rolling64("tok")} FOR tok IN t] AS hs
       |  FROM toks),
       |h1 AS (SELECT doc_id, [${xorShr64("h", 30)} FOR h IN hs] AS hs FROM h0),
       |h2 AS (SELECT doc_id, [${u64Mul("h", big(0xBF58476D1CE4E5B9L))} FOR h IN hs] AS hs FROM h1),
       |h3 AS (SELECT doc_id, [${xorShr64("h", 27)} FOR h IN hs] AS hs FROM h2),
       |h4 AS (SELECT doc_id, [${u64Mul("h", big(0x94D049BB133111EBL))} FOR h IN hs] AS hs FROM h3),
       |h5 AS (SELECT doc_id, [${xorShr64("h", 31)} FOR h IN hs] AS hs FROM h4),
       |bits AS (SELECT doc_id,
       |  [CASE WHEN list_sum([CASE WHEN (h // CAST(power(2, b) AS HUGEINT)) % 2 = 1
       |                            THEN 1 ELSE -1 END FOR h IN hs]) > 0
       |        THEN 1 ELSE 0 END
       |   FOR b IN generate_series(0, 63)] AS bv
       |  FROM h5)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  CAST(len(list_filter([a.bv[i] <> b.bv[i] FOR i IN generate_series(1, 64)],
       |                       x -> x)) AS BIGINT) AS hamming
       |FROM bits a JOIN bits b ON a.doc_id < b.doc_id
       |WHERE hamming <= 3
       |ORDER BY id_a, id_b""".stripMargin

  /** Capped-bucket SimHash replay: same splitmix64 bit votes as
    * [[dedupSimhashSql]], but candidacy replays the engine's posting-list
    * path — a pair qualifies only via a shared (band, bucket) whose
    * population is ≤ 64 — so the skew cap itself is hash-checked. */
  val dedupSimhashCappedSql: String = {
    val bitsCtes =
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |h0 AS (SELECT doc_id,
         |  [${rolling64("tok")} FOR tok IN t] AS hs
         |  FROM toks),
         |h1 AS (SELECT doc_id, [${xorShr64("h", 30)} FOR h IN hs] AS hs FROM h0),
         |h2 AS (SELECT doc_id, [${u64Mul("h", big(0xBF58476D1CE4E5B9L))} FOR h IN hs] AS hs FROM h1),
         |h3 AS (SELECT doc_id, [${xorShr64("h", 27)} FOR h IN hs] AS hs FROM h2),
         |h4 AS (SELECT doc_id, [${u64Mul("h", big(0x94D049BB133111EBL))} FOR h IN hs] AS hs FROM h3),
         |h5 AS (SELECT doc_id, [${xorShr64("h", 31)} FOR h IN hs] AS hs FROM h4),
         |bits AS (SELECT doc_id,
         |  [CASE WHEN list_sum([CASE WHEN (h // CAST(power(2, b) AS HUGEINT)) % 2 = 1
         |                            THEN 1 ELSE -1 END FOR h IN hs]) > 0
         |        THEN 1 ELSE 0 END
         |   FOR b IN generate_series(0, 63)] AS bv
         |  FROM h5)""".stripMargin
    s"""$bitsCtes,
       |bands AS (
       |  SELECT doc_id, b,
       |    list_sum([bv[16*b + j + 1] * CAST(power(2, j) AS BIGINT)
       |              FOR j IN generate_series(0, 15)]) AS h
       |  FROM bits, generate_series(0, 3) AS g(b)),
       |sizes AS (SELECT b, h, count(*) AS n FROM bands GROUP BY 1, 2),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
       |  FROM bands a
       |  JOIN bands c ON a.b = c.b AND a.h = c.h AND a.doc_id < c.doc_id
       |  JOIN sizes s ON s.b = a.b AND s.h = a.h
       |  WHERE s.n <= 64)
       |SELECT id_a, id_b,
       |  CAST(len(list_filter([a.bv[i] <> c.bv[i] FOR i IN generate_series(1, 64)],
       |                       x -> x)) AS BIGINT) AS hamming
       |FROM cand
       |JOIN bits a ON a.doc_id = id_a
       |JOIN bits c ON c.doc_id = id_b
       |WHERE hamming <= 3
       |ORDER BY id_a, id_b""".stripMargin
  }

  // ------------------------------------------------------- hyperplane LSH
  /** 8 tables × 8 sign bits over the RAW double vector `v`, planes from the
    * closed-form LCG of [[Dedup.hyperplanes]]; the sequential
    * multiply-accumulate replays the engine kernel's IEEE op order. The
    * dot runs over `least(len(v), 64)` exactly like the kernel's
    * `math.min(plane.length, x.length)` — indexing past the vector end
    * would NULL-poison the sum and zero every sign bit. */
  private def hyperplaneSigList(v: String): String =
    s"""[CAST(list_sum([CASE WHEN list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      [$v[d] * (CAST((1103515245 * ((t * 8 + j) * 64 + (d - 1)) + 12345)
       |                     % 2147483648 AS DOUBLE) / 2147483648
       |                - CAST(0.5 AS DOUBLE))
       |       FOR d IN generate_series(1, least(len($v), 64))]), (a, x) -> a + x) > 0
       |     THEN CAST(power(2, j) AS BIGINT) ELSE 0 END
       |    FOR j IN generate_series(0, 7)]) AS BIGINT)
       |   FOR t IN generate_series(0, 7)]""".stripMargin

  val dedupEmbeddingLshSql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |sig AS (SELECT vec_id, v,
       |  ${hyperplaneSigList("v")} AS hs
       |  FROM e)
       |SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |FROM sig a JOIN sig b ON a.vec_id < b.vec_id
       |WHERE len(list_filter([a.hs[t] = b.hs[t] FOR t IN generate_series(1, 8)],
       |                      x -> x)) > 0
       |  AND round(list_cosine_similarity(a.v, b.v), 9) >= 0.5
       |ORDER BY id_a, id_b""".stripMargin

  /** [[dedupEmbeddingLshSql]] with the bucket cap replayed: only (table,
    * hash) buckets with ≤ `cap` members confer candidacy — the HAVING-side
    * mirror of `Dedup.embeddingNearDupLsh(maxBucket)`. */
  def dedupEmbeddingLshCappedSql(cap: Int = 64): String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |sig AS (SELECT vec_id, v,
       |  ${hyperplaneSigList("v")} AS hs
       |  FROM e),
       |fb0 AS (SELECT vec_id, hs, unnest(generate_series(1, 8)) AS t FROM sig),
       |fb AS (SELECT vec_id, t, hs[t] AS h FROM fb0),
       |sizes AS (SELECT t, h, count(*) AS n FROM fb GROUP BY 1, 2),
       |ok AS (SELECT fb.vec_id, fb.t, fb.h
       |       FROM fb JOIN sizes USING (t, h) WHERE n <= $cap),
       |pairs AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |          FROM ok a JOIN ok b
       |            ON a.t = b.t AND a.h = b.h AND a.vec_id < b.vec_id)
       |SELECT id_a, id_b
       |FROM pairs JOIN e ea ON ea.vec_id = id_a JOIN e eb ON eb.vec_id = id_b
       |WHERE round(list_cosine_similarity(ea.v, eb.v), 9) >= 0.5
       |ORDER BY id_a, id_b""".stripMargin

  /** Cross-corpus contamination replay: same LCG planes and bucket-share
    * candidacy as [[dedupEmbeddingLshSql]], probe set = vec_id < 5. */
  val dedupCrossEmbeddingSql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |sig AS (SELECT vec_id, v,
       |  ${hyperplaneSigList("v")} AS hs
       |  FROM e),
       |c AS (SELECT vec_id, v, hs FROM sig WHERE vec_id >= 5),
       |p AS (SELECT vec_id AS probe_id, v AS pv, hs AS phs FROM sig WHERE vec_id < 5),
       |cand AS (
       |  SELECT c.vec_id, p.probe_id,
       |    round(list_cosine_similarity(c.v, p.pv), 9) AS cos
       |  FROM c, p
       |  WHERE len(list_filter([c.hs[t] = p.phs[t] FOR t IN generate_series(1, 8)],
       |                        x -> x)) > 0)
       |SELECT vec_id, max(cos) AS max_cos,
       |  CAST(count(DISTINCT probe_id) AS BIGINT) AS n_matches
       |FROM cand WHERE cos >= 0.3
       |GROUP BY vec_id ORDER BY vec_id""".stripMargin

  val simAnnLshSql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |sig AS (SELECT vec_id, v,
       |  ${hyperplaneSigList("v")} AS hs
       |  FROM e),
       |q AS (SELECT vec_id AS query_id, v AS qv, hs AS qhs FROM sig WHERE vec_id < 5),
       |cand AS (
       |  SELECT q.query_id, s.vec_id AS neighbor_id,
       |    round(list_cosine_similarity(q.qv, s.v), 9) AS cos
       |  FROM sig s, q
       |  WHERE s.vec_id <> q.query_id
       |    AND len(list_filter([s.hs[t] = q.qhs[t] FOR t IN generate_series(1, 8)],
       |                        x -> x)) > 0)
       |SELECT query_id, neighbor_id, rank FROM (
       |  SELECT query_id, neighbor_id,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
       |  FROM cand)
       |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  /** Shared CTE chain for the self-kNN graph replays: signatures →
    * bucket-capped membership (cap 64, the [[dedupEmbeddingLshCappedSql]]
    * HAVING mirror) → distinct candidate pairs → exact 9-dp rerank →
    * per-query rank, kept at k=5 — the [[graft.Similarity.knnGraph]]
    * pipeline stage for stage. */
  private val knnGraphCte: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |sig AS (SELECT vec_id,
       |  ${hyperplaneSigList("v")} AS hs
       |  FROM e),
       |fb0 AS (SELECT vec_id, hs, unnest(generate_series(1, 8)) AS t FROM sig),
       |fb AS (SELECT vec_id, t, hs[t] AS h FROM fb0),
       |sizes AS (SELECT t, h, count(*) AS n FROM fb GROUP BY 1, 2),
       |ok AS (SELECT fb.vec_id, fb.t, fb.h
       |       FROM fb JOIN sizes USING (t, h) WHERE n <= 64),
       |cand AS (SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id
       |         FROM ok a JOIN ok b
       |           ON a.t = b.t AND a.h = b.h AND a.vec_id <> b.vec_id),
       |scored AS (
       |  SELECT c.query_id, c.neighbor_id,
       |    round(list_cosine_similarity(ea.v, eb.v), 9) AS cos
       |  FROM cand c
       |  JOIN e ea ON ea.vec_id = c.query_id
       |  JOIN e eb ON eb.vec_id = c.neighbor_id),
       |g AS (
       |  SELECT query_id, neighbor_id, rank FROM (
       |    SELECT query_id, neighbor_id,
       |      CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |        ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
       |    FROM scored)
       |  WHERE rank <= 5)""".stripMargin

  val simKnnGraphSql: String =
    s"""$knnGraphCte
       |SELECT query_id, neighbor_id, rank FROM g
       |ORDER BY query_id, rank""".stripMargin

  /** PageRank replay: the [[knnGraphCte]] edge list, then
    * [[graft.Similarity.pageRank]]'s five integer power steps UNROLLED as
    * chained CTEs (standard SQL recursion cannot aggregate per step).
    * All arithmetic is BIGINT floor division, so the replay is bit-exact:
    * r0 = NANO//N, step r' = base + (85·Σ r//outdeg)//100, base =
    * ((NANO·15)//100)//N, dangling mass dropped on both sides. */
  val simPagerankSql: String = {
    val steps = (1 to 5).map { i =>
      s"""r$i AS (
         |  SELECT n.vec_id,
         |    (SELECT b FROM base) + 85 * COALESCE(s.s, 0) // 100 AS r
         |  FROM nodes n LEFT JOIN (
         |    SELECT g.neighbor_id AS vec_id, SUM(p.r // o.outdeg) AS s
         |    FROM g JOIN outdeg o ON g.query_id = o.query_id
         |    JOIN r${i - 1} p ON g.query_id = p.vec_id
         |    GROUP BY 1) s ON n.vec_id = s.vec_id)""".stripMargin
    }.mkString(",\n")
    s"""$knnGraphCte,
       |nodes AS (SELECT vec_id FROM e),
       |outdeg AS (SELECT query_id, COUNT(*) AS outdeg FROM g GROUP BY 1),
       |base AS (SELECT (CAST(1000000000 AS BIGINT) * 15 // 100) // COUNT(*)
       |  AS b FROM nodes),
       |r0 AS (SELECT vec_id,
       |  CAST(1000000000 AS BIGINT) // (SELECT COUNT(*) FROM nodes) AS r
       |  FROM nodes),
       |$steps
       |SELECT CAST(ROW_NUMBER() OVER (ORDER BY r DESC, vec_id) AS BIGINT)
       |    AS rank,
       |  vec_id, CAST(r AS BIGINT) AS r_nano
       |FROM r5 ORDER BY r DESC, vec_id LIMIT 20""".stripMargin
  }

  /** Recall/precision replay: exact pairs recomputed quadratically from
    * the SAME distinct-shingle sets the minhash chain hashes (a pair at
    * Jaccard ≥ 0.5 necessarily shares a shingle, so the quadratic form
    * equals the engine's posting-list form), joined against the est set. */
  val dedupMinhashRecallSql: String =
    s"""$minhashCandCte,
       |exact AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |  WHERE CAST(len(list_intersect(a.shs, b.shs)) AS DOUBLE)
       |    / (len(a.shs) + len(b.shs) - len(list_intersect(a.shs, b.shs)))
       |    >= 0.5),
       |u AS (
       |  SELECT COALESCE(e.id_a, f.id_a) AS id_a,
       |    COALESCE(e.id_b, f.id_b) AS id_b,
       |    CASE WHEN e.id_a IS NULL THEN 0 ELSE 1 END AS in_exact,
       |    CASE WHEN f.id_a IS NULL THEN 0 ELSE 1 END AS in_found
       |  FROM exact e FULL OUTER JOIN est f
       |    ON e.id_a = f.id_a AND e.id_b = f.id_b)
       |SELECT CAST(SUM(in_exact) AS BIGINT) AS n_exact,
       |  CAST(SUM(in_found) AS BIGINT) AS n_found,
       |  CAST(SUM(in_exact * in_found) AS BIGINT) AS n_both,
       |  CAST(SUM(in_exact * in_found) AS DOUBLE)
       |    / CAST(SUM(in_exact) AS BIGINT) AS recall,
       |  CAST(SUM(in_exact * in_found) AS DOUBLE)
       |    / CAST(SUM(in_found) AS BIGINT) AS precision
       |FROM u""".stripMargin

  val simKnnMutualSql: String =
    s"""$knnGraphCte
       |SELECT f.query_id AS id_a, f.neighbor_id AS id_b,
       |  CAST(f.rank + r.rank AS BIGINT) AS rank_sum
       |FROM g f JOIN g r
       |  ON f.query_id = r.neighbor_id AND f.neighbor_id = r.query_id
       |WHERE f.query_id < f.neighbor_id
       |ORDER BY id_a, id_b""".stripMargin

  /** Leave-one-out kNN-vote replay: the [[knnGraphCte]] edge list joined
    * to neighbor labels, plurality vote per query (ties: smaller summed
    * rank, then smaller label), confusion matrix against the true label —
    * [[graft.Similarity.knnClassify]] stage for stage. */
  val simKnnClassifySql: String =
    s"""$knnGraphCte,
       |lab AS (SELECT vec_id, CAST(label AS BIGINT) AS label
       |        FROM embeddings),
       |votes AS (
       |  SELECT g.query_id, lab.label AS nlabel,
       |    COUNT(*) AS n_votes, SUM(g.rank) AS rank_sum
       |  FROM g JOIN lab ON g.neighbor_id = lab.vec_id
       |  GROUP BY 1, 2),
       |pred AS (
       |  SELECT query_id, nlabel FROM (
       |    SELECT query_id, nlabel,
       |      ROW_NUMBER() OVER (PARTITION BY query_id
       |        ORDER BY n_votes DESC, rank_sum ASC, nlabel ASC) AS rk
       |    FROM votes)
       |  WHERE rk = 1)
       |SELECT t.label, p.nlabel AS pred, COUNT(*) AS n
       |FROM pred p JOIN lab t ON p.query_id = t.vec_id
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Split-leakage replay: the [[dedupMinhashSql]] candidate chain, each
    * side assigned its train/val/test split by the SHARED mod-prime
    * bucket hash ([[graft.PipelineQueries.splitBucketSql]] — the same
    * arithmetic every split/sample site uses), cross-split pairs kept.
    * `lazy` so the cross-object reference resolves after both singletons
    * initialize. */
  lazy val dedupSplitLeakageSql: String = {
    def splitCase(idCol: String): String =
      s"""CASE WHEN ${PipelineQueries.splitBucketSql(idCol)} < 90 THEN 'train'
         |       WHEN ${PipelineQueries.splitBucketSql(idCol)} < 95 THEN 'val'
         |       ELSE 'test' END""".stripMargin
    s"""$minhashCandCte
       |SELECT id_a, id_b,
       |  ${splitCase("id_a")} AS split_a,
       |  ${splitCase("id_b")} AS split_b,
       |  est_jaccard
       |FROM est
       |WHERE ${splitCase("id_a")} <> ${splitCase("id_b")}
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** Source-matrix replay: the [[dedupMinhashSql]] pair chain, each side
    * labeled with its document's source, pair canonicalized by source
    * name, counted per cell. */
  val dedupSourceMatrixSql: String =
    s"""$minhashCandCte,
       |lab AS (SELECT e.id_a, e.id_b,
       |          least(da.source, db.source) AS src_a,
       |          greatest(da.source, db.source) AS src_b
       |        FROM est e
       |        JOIN documents da ON da.doc_id = e.id_a
       |        JOIN documents db ON db.doc_id = e.id_b)
       |SELECT src_a, src_b, CAST(COUNT(*) AS BIGINT) AS n_pairs
       |FROM lab GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Triangle replay for [[graft.Similarity.triangleStats]]: the
    * [[knnGraphCte]] mutual pairs (id-ordered = the compact-forward
    * orientation), wedges closed by the third edge, per-node counts and
    * the integer-NANO clustering coefficient — every stage mirrored. */
  val simTrianglesSql: String =
    s"""$knnGraphCte,
       |m AS (SELECT f.query_id AS id_a, f.neighbor_id AS id_b
       |      FROM g f JOIN g r
       |        ON f.query_id = r.neighbor_id AND f.neighbor_id = r.query_id
       |      WHERE f.query_id < f.neighbor_id),
       |deg AS (SELECT vec_id, COUNT(*) AS degree FROM (
       |          SELECT id_a AS vec_id FROM m
       |          UNION ALL SELECT id_b FROM m) GROUP BY 1),
       |tri AS (SELECT e1.id_a AS x, e1.id_b AS y, e2.id_b AS z
       |        FROM m e1 JOIN m e2 ON e1.id_b = e2.id_a
       |        JOIN m e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b),
       |tn AS (SELECT vec_id, COUNT(*) AS n_triangles FROM (
       |          SELECT x AS vec_id FROM tri
       |          UNION ALL SELECT y FROM tri
       |          UNION ALL SELECT z FROM tri) GROUP BY 1)
       |SELECT d.vec_id, CAST(d.degree AS BIGINT) AS degree,
       |  CAST(COALESCE(tn.n_triangles, 0) AS BIGINT) AS n_triangles,
       |  CAST(CASE WHEN d.degree >= 2
       |    THEN (2 * COALESCE(tn.n_triangles, 0) * 1000000000)
       |         // (d.degree * (d.degree - 1))
       |    ELSE 0 END AS BIGINT) AS clustering_nano
       |FROM deg d LEFT JOIN tn ON d.vec_id = tn.vec_id
       |ORDER BY d.vec_id""".stripMargin

  /** Hard-negative replay for [[graft.Similarity.hardNegatives]]: the
    * [[knnGraphCte]] signature/cap chain with labels riding the bucket
    * rows, candidacy additionally requiring a label mismatch, exact 9-dp
    * rerank kept at k=5. The bucket-size cap counts ALL bucket members
    * (labels do not shrink a bucket), exactly as the engine caps before
    * the label predicate. */
  val simHardNegativesSql: String =
    s"""WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
       |  CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |sig AS (SELECT vec_id, label,
       |  ${hyperplaneSigList("v")} AS hs
       |  FROM e),
       |fb0 AS (SELECT vec_id, label, hs,
       |        unnest(generate_series(1, 8)) AS t FROM sig),
       |fb AS (SELECT vec_id, label, t, hs[t] AS h FROM fb0),
       |sizes AS (SELECT t, h, count(*) AS n FROM fb GROUP BY 1, 2),
       |ok AS (SELECT fb.vec_id, fb.label, fb.t, fb.h
       |       FROM fb JOIN sizes USING (t, h) WHERE n <= 64),
       |cand AS (SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id,
       |           b.label AS neighbor_label
       |         FROM ok a JOIN ok b
       |           ON a.t = b.t AND a.h = b.h AND a.vec_id <> b.vec_id
       |          AND a.label <> b.label),
       |scored AS (
       |  SELECT c.query_id, c.neighbor_id, c.neighbor_label,
       |    round(list_cosine_similarity(ea.v, eb.v), 9) AS cos
       |  FROM cand c
       |  JOIN e ea ON ea.vec_id = c.query_id
       |  JOIN e eb ON eb.vec_id = c.neighbor_id)
       |SELECT query_id, neighbor_id, neighbor_label, rank FROM (
       |  SELECT query_id, neighbor_id, neighbor_label,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
       |  FROM scored)
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** RRF replay for [[graft.Similarity.rrfFusion]] at k=10, k₀=60: the
    * exact broadcast-probe top-10 and the [[simAnnLshSql]] candidate
    * chain, unioned, integer-scored 10⁹//(60+rank), re-ranked. */
  val simRrfSql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |sig AS (SELECT vec_id, v,
       |  ${hyperplaneSigList("v")} AS hs
       |  FROM e),
       |q AS (SELECT vec_id AS query_id, v AS qv, hs AS qhs FROM sig WHERE vec_id < 5),
       |ex AS (SELECT query_id, neighbor_id, rank FROM (
       |  SELECT q.query_id, s.vec_id AS neighbor_id,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY q.query_id
       |      ORDER BY round(list_cosine_similarity(q.qv, s.v), 9) DESC,
       |               s.vec_id) AS BIGINT) AS rank
       |  FROM sig s, q WHERE s.vec_id <> q.query_id)
       |  WHERE rank <= 10),
       |an AS (SELECT query_id, neighbor_id, rank FROM (
       |  SELECT c.query_id, c.neighbor_id,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY c.query_id
       |      ORDER BY c.cos DESC, c.neighbor_id) AS BIGINT) AS rank
       |  FROM (
       |    SELECT q.query_id, s.vec_id AS neighbor_id,
       |      round(list_cosine_similarity(q.qv, s.v), 9) AS cos
       |    FROM sig s, q
       |    WHERE s.vec_id <> q.query_id
       |      AND len(list_filter([s.hs[t] = q.qhs[t] FOR t IN generate_series(1, 8)],
       |                          x -> x)) > 0) c)
       |  WHERE rank <= 10),
       |u AS (SELECT * FROM ex UNION ALL SELECT * FROM an),
       |f AS (SELECT query_id, neighbor_id,
       |        CAST(SUM(1000000000 // (60 + rank)) AS BIGINT) AS rrf_nano,
       |        CAST(COUNT(*) AS BIGINT) AS n_lists
       |      FROM u GROUP BY 1, 2)
       |SELECT query_id, neighbor_id, rrf_nano, n_lists, rank FROM (
       |  SELECT query_id, neighbor_id, rrf_nano, n_lists,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY rrf_nano DESC, neighbor_id) AS BIGINT) AS rank
       |  FROM f)
       |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  // ------------------------------------------------------ JL projection
  /** splitmix64(k) as a scalar HUGEINT chain (the simhash replay runs the
    * same stages over token lists; this one runs them over the plane
    * index). */
  private def mix64Scalar(k: String): String = {
    val h0 = s"CAST($k AS HUGEINT)"
    val h1 = xorShr64(h0, 30)
    val h2 = u64Mul(h1, big(0xBF58476D1CE4E5B9L))
    val h3 = xorShr64(h2, 27)
    val h4 = u64Mul(h3, big(0x94D049BB133111EBL))
    xorShr64(h4, 31)
  }

  /** Oracle for [[PipelineQueries.embedProject]]: rebuilds the 16×64
    * [[EmbeddingCompression.jlPlanes]] matrix — top 31 bits of
    * splitmix64(j·64+d) mapped to [-0.5, 0.5), every value a dyadic
    * rational both engines hold exactly — as a CTE (plane rows assembled
    * with ORDER BY d, deterministic), then runs the same sequential
    * multiply-accumulate per projected component as the engine's VecDot
    * kernel. */
  val embedProjectSql: String =
    s"""WITH ks AS (SELECT unnest(generate_series(0, 16 * 64 - 1)) AS k),
       |pw AS (SELECT k // 64 AS j, k % 64 AS d,
       |  CAST(${mix64Scalar("k")} // 8589934592 AS DOUBLE) / 2147483648
       |    - CAST(0.5 AS DOUBLE) AS w
       |  FROM ks),
       |pl AS (SELECT j, list(w ORDER BY d) AS pv FROM pw GROUP BY j),
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |dots AS (
       |  SELECT e.vec_id, pl.j,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      [e.v[d] * pl.pv[d]
       |       FOR d IN generate_series(1, least(len(e.v), 64))]),
       |      (acc, x) -> acc + x) AS dot
       |  FROM e CROSS JOIN pl),
       |p AS (
       |  SELECT d.vec_id, e.v, list(d.dot ORDER BY d.j) AS pv
       |  FROM dots d JOIN e ON d.vec_id = e.vec_id
       |  GROUP BY d.vec_id, e.v)
       |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |  round(list_cosine_similarity(a.v, b.v), 9) AS cos_orig,
       |  round(list_cosine_similarity(a.pv, b.pv), 9) AS cos_proj,
       |  round(abs(round(list_cosine_similarity(a.v, b.v), 9)
       |            - round(list_cosine_similarity(a.pv, b.pv), 9)), 9) AS gap9
       |FROM p a JOIN p b ON b.vec_id = a.vec_id + 1
       |ORDER BY id_a""".stripMargin

  // ------------------------------------------------------- epoch shuffle
  /** Oracle for [[PipelineQueries.epochShuffle]]: doc_id XOR mix64(epoch)
    * (signed BIGINT xor), the splitmix64 chain in HUGEINT, back to the
    * signed key Spark orders by, then the same shard pmod and within-shard
    * rank. Epoch and shard count are pinned to the query's (1, 32). */
  val epochShuffleSql: String = {
    val salt = VectorExpressions.mix64(1L)
    val mixed = mix64Scalar(s"(${unsigned64(s"xor(doc_id, CAST($salt AS BIGINT))")})")
    s"""WITH k AS (
       |  SELECT doc_id, ${signed64(mixed)} AS order_key FROM documents)
       |SELECT doc_id, order_key,
       |  CAST(((order_key % 32) + 32) % 32 AS BIGINT) AS shard,
       |  CAST(ROW_NUMBER() OVER (
       |    PARTITION BY ((order_key % 32) + 32) % 32
       |    ORDER BY order_key, doc_id) AS BIGINT) AS pos
       |FROM k ORDER BY doc_id""".stripMargin
  }

  // ----------------------------------------------------- weighted sample
  /** Oracle for [[TextAnalysis.weightedSample]]: the same splitmix64
    * chain in HUGEINT, top-53-bits-plus-half uniform (a dyadic rational,
    * exact in both engines), and the `ln(u)/w` A-ES ranking key — ranked
    * UNROUNDED (mirroring the Spark side; both engines evaluate the
    * literally identical expression tree) with a doc_id tie-break; the
    * 9-dp round is applied only to the reported `key9` column. */
  val weightedSampleSql: String = {
    val h = mix64Scalar(s"(${unsigned64("doc_id")})")
    s"""WITH k AS (
       |  SELECT doc_id, CAST(greatest(n_chars, 1) AS BIGINT) AS w,
       |    ln((CAST(($h) // 2048 AS DOUBLE) + 0.5)
       |        / 9007199254740992.0)
       |      / greatest(n_chars, 1) AS key
       |  FROM documents)
       |SELECT CAST(row_number() OVER (ORDER BY key DESC, doc_id)
       |    AS BIGINT) AS rank, doc_id, w, round(key, 9) AS key9
       |FROM (SELECT * FROM k ORDER BY key DESC, doc_id LIMIT 20)
       |ORDER BY rank""".stripMargin
  }

  // -------------------------------------------------------- bucket transform
  /** murmur3_x86_32 of an 8-byte little-endian long, unrolled into lateral
    * column aliases (two 4-byte blocks + finalizer). Matches
    * [[IcebergBucketing.murmur3]] (seed 0) and Spark's `hash()` (seed 42)
    * — validated against the Iceberg spec vector hashLong(34) = 2017239379. */
  private def murmurLongChain(prefix: String, seed: Int): String = {
    val steps = scala.collection.mutable.ArrayBuffer[String]()
    def step(name: String, expr: String): String = {
      steps += s"$expr AS $prefix$name"
      s"$prefix$name"
    }
    def block(tag: String, in: String, hIn: String): String = {
      val ka = step(s"k${tag}a", u32Mul(in, 3432918353L))
      val kb = step(s"k${tag}b", rotl32(ka, 15))
      val kc = step(s"k${tag}c", u32Mul(kb, 461845907L))
      val h1 = step(s"h${tag}a", s"xor($hIn, $kc)")
      val h2 = step(s"h${tag}b", rotl32(h1, 13))
      step(s"h${tag}c", s"(($h2 * 5 + 3864292196) % $U32)")
    }
    val h1 = block("1", "b1", seed.toString)
    val h2 = block("2", "b2", h1)
    val f0 = step("f0", s"xor($h2, 8)")
    val f1 = step("f1", s"xor($f0, $f0 // 65536)")
    val f2 = step("f2", u32Mul(f1, 2246822507L))
    val f3 = step("f3", s"xor($f2, $f2 // 8192)")
    val f4 = step("f4", u32Mul(f3, 3266489909L))
    step("h", s"xor($f4, $f4 // 65536)")
    steps.mkString(",\n  ")
  }

  /** Oracle for [[ParityQueries.bucketTransform]]: both the Spark-native
    * bucket (seed-42 murmur3, signed pmod) and the Iceberg-spec bucket
    * (seed-0 murmur3, `(h & Int.MaxValue) % N`). */
  val bucketTransformSql: String =
    s"""WITH base AS (SELECT event_id,
       |  ((CAST(user_id AS HUGEINT) % $U64) + $U64) % $U64 AS u
       |  FROM events),
       |m AS (SELECT event_id,
       |  CAST(u % $U32 AS BIGINT) AS b1, CAST(u // $U32 AS BIGINT) AS b2,
       |  ${murmurLongChain("sp_", 42)},
       |  ${murmurLongChain("ib_", 0)}
       |  FROM base)
       |SELECT event_id,
       |  CAST(((CASE WHEN sp_h >= 2147483648 THEN sp_h - $U32 ELSE sp_h END % 16)
       |        + 16) % 16 AS BIGINT) AS bucket,
       |  CAST((ib_h % 2147483648) % 16 AS BIGINT) AS iceberg_bucket
       |FROM m ORDER BY event_id""".stripMargin
}
