package graft

/** DuckDB oracle SQL for every SQL-expressible entry in SparkEntry.queries.
  *
  * Each statement is a semantic mirror of the Spark implementation with the
  * same determinism discipline (decimal-exact sums, md5-hash randomness,
  * total window orders), so the driver's hash compare matches exactly.
  */
object OracleSql {

  private val revenue =
    "CAST(l_extendedprice AS DECIMAL(12,4)) * CAST(1 - l_discount AS DECIMAL(12,4))"

  private val toksCte =
    """WITH t AS (
      |  SELECT *, CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
      |    ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
      |  FROM documents)""".stripMargin

  private val shinglesCte =
    toksCte + """,
      |sh AS (
      |  SELECT *, CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
      |    ELSE list_transform(range(1, len(toks) - 1),
      |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END AS sh3
      |  FROM t)""".stripMargin

  /** One Newton step for 1-feature logistic + intercept with L2=1 on the
    * slope: 2×2 closed-form H⁻¹g update. Unrolled (DuckDB forbids
    * aggregates in recursive CTE terms); quadratic convergence makes 12
    * steps ≫ machine precision. */
  private def newtonStep(prev: String, cur: String): String = {
    val p = "1/(1+EXP(-(q.a*x+q.b)))"
    s"""$cur AS (
       |  SELECT a - (hbb*ga - hab*gb) / (haa*hbb - hab*hab) AS a,
       |         b - (haa*gb - hab*ga) / (haa*hbb - hab*hab) AS b
       |  FROM (
       |    SELECT q.a AS a, q.b AS b,
       |      SUM(($p - y) * x) + q.a AS ga,
       |      SUM($p - y) AS gb,
       |      SUM($p * (1 - $p) * x * x) + 1.0 AS haa,
       |      SUM($p * (1 - $p) * x) AS hab,
       |      SUM($p * (1 - $p)) AS hbb
       |    FROM pts, $prev q GROUP BY q.a, q.b))""".stripMargin
  }

  /** 64-bit simhash halves (lo = bits 0..31, hi = 32..63) per document,
    * rebuilt from md5 hex nibbles exactly as the engine's UDF does:
    * bit k of digest byte j sits in hex char 2j+1 (high nibble, k≥4) or
    * 2j+2 (low nibble, k<4), at in-nibble position k mod 4. */
  private val simhashCte =
    toksCte + """,
      |tok AS (SELECT doc_id, unnest(toks) AS tok FROM t),
      |bits AS (
      |  SELECT doc_id, b,
      |    (strpos('0123456789abcdef',
      |       substr(md5(tok), 2*(b//8) + CASE WHEN b%8 < 4 THEN 2 ELSE 1 END, 1))
      |     - 1 >> (b%4)) & 1 AS bit
      |  FROM tok, range(64) r(b)),
      |votes AS (
      |  SELECT doc_id, b, SUM(bit) AS ones, COUNT(*) AS n
      |  FROM bits GROUP BY 1, 2),
      |sigp AS (
      |  SELECT doc_id,
      |    SUM(CASE WHEN 2*ones > n AND b < 32
      |      THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS lo,
      |    SUM(CASE WHEN 2*ones > n AND b >= 32
      |      THEN (CAST(1 AS BIGINT) << (b - 32)) ELSE 0 END) AS hi
      |  FROM votes GROUP BY 1),
      |sig AS (
      |  SELECT d.doc_id, COALESCE(s.lo, 0) AS lo, COALESCE(s.hi, 0) AS hi
      |  FROM documents d LEFT JOIN sigp s USING (doc_id))""".stripMargin

  /** 8-hex-digit prefix of md5("seed_i") as an integer — DuckDB-side
    * equivalent of Spark's conv(substring(md5(..),1,8),16,10). */
  private def hex8(arg: String): String =
    (1 to 8).map { k =>
      val pow = math.pow(16, 8 - k).toLong
      s"(strpos('0123456789abcdef', substr(md5($arg), $k, 1)) - 1) * $pow"
    }.mkString("(", " + ", ")")

  /** Deterministic sign-LSH bucket per vector, mirroring
    * VectorOps.hyperplaneBit/lshBucket: proj_b = Σᵢ vᵢ·h(b,i) with
    * h(b,i) = hex8(md5("b_i"))/2³¹ − 1, folded left-to-right so the
    * doubles are bit-identical to Spark's sequential aggregate. */
  private def lshBucketCte(nBits: Int): String = {
    val h = "CAST(" + hex8("CAST(b AS VARCHAR) || '_' || CAST(i AS VARCHAR)") +
      " AS DOUBLE) / 2147483648.0 - 1.0"
    s"""projs AS (
       |  SELECT vec_id, b,
       |    list_reduce(list_transform(range(0, len(v)),
       |      i -> v[i+1] * ($h)), (a, c) -> a + c) AS proj
       |  FROM e, range($nBits) rb(b)),
       |buckets AS (
       |  SELECT vec_id,
       |    CAST(SUM(CASE WHEN proj >= 0 THEN (1 << b) ELSE 0 END) AS INTEGER)
       |      AS bucket
       |  FROM projs GROUP BY vec_id)""".stripMargin
  }

  /** Shared q57/q219 chain: shingle-Jaccard near-dup candidate pairs
    * (shared-shingle equi-join prefilter — value-identical to all-pairs
    * for jaccard >= 0.01 > 0, and what lets DuckDB finish at sf1)
    * resolved to connected components by transitive closure; yields
    * `base` (doc_id, component, ntok). The engine runs O(log n)
    * large-star/small-star instead; small data lets the oracle afford
    * O(n*|C|) reachability. */
  private val dupComponentsCte = "WITH RECURSIVE" +
      shinglesCte.stripPrefix("WITH") + """,
        |ds AS (SELECT doc_id, source, list_distinct(sh3) AS sh FROM sh),
        |g AS (SELECT doc_id, source, unnest(sh) AS g FROM ds),
        |cand AS (
        |  SELECT a.doc_id AS ea, b.doc_id AS eb
        |  FROM g a JOIN g b ON a.g = b.g AND a.source = b.source
        |    AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |e AS (
        |  SELECT ea, eb FROM cand
        |  JOIN ds da ON da.doc_id = cand.ea
        |  JOIN ds db ON db.doc_id = cand.eb
        |  WHERE CAST(len(list_intersect(da.sh, db.sh)) AS DOUBLE)
        |    / (len(da.sh) + len(db.sh) - len(list_intersect(da.sh, db.sh)))
        |    >= 0.01),
        |sym AS (SELECT ea AS u, eb AS v FROM e UNION SELECT eb, ea FROM e),
        |reach AS (
        |  SELECT u, v FROM sym
        |  UNION
        |  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
        |  WHERE s.v <> r.u),
        |comp AS (
        |  SELECT u AS doc_id, least(u, min(v)) AS component
        |  FROM reach GROUP BY u),
        |base AS (
        |  SELECT t.doc_id, COALESCE(c.component, t.doc_id) AS component,
        |    len(t.toks) AS ntok
        |  FROM t LEFT JOIN comp c ON t.doc_id = c.doc_id)""".stripMargin

  /** Exact cosine top-3 for vec_id<5 queries over the vec_id≥5 corpus —
    * the oracle for q29 (brute force) and q43o (IVF with nProbe = nList,
    * which must degenerate to exhaustive search). */
  /** q222's oracle: BPE encoding as pure SQL. Each word is rendered as
    * a chr(31)-DOUBLE-separated symbol string (`␟␟a␟␟b␟␟`) and every
    * adopted merge (a, b) replays as one `replace` of `␟a␟␟b␟` with
    * `␟ab␟`: the pattern consumes the INNER separator of each flanking
    * pair, so the string keeps its double boundaries and the scanner's
    * resume-after-replacement position is exactly the merge walk's
    * `i += 2` — greedy, leftmost, non-overlapping (verified
    * symbol-for-symbol against a reference walk on the full table).
    * The merge list mirrors SparkEntry.q222_bpe_encode's literal. */
  private val bpeEncodeSql: String = {
    val merges = Seq("a" -> "g", "ag" -> "g", "r" -> "o", "ro" -> "w",
      "a" -> "n", "o" -> "n")
    var f = "concat(chr(31), chr(31), " +
      "regexp_replace(w, '(.)', concat('\\1', chr(31), chr(31)), 'g'))"
    for ((a, b) <- merges)
      f = s"replace($f, concat(chr(31),'$a',chr(31),chr(31),'$b'," +
        s"chr(31)), concat(chr(31),'$a$b',chr(31)))"
    s"""WITH t AS (
       |  SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
       |    ELSE regexp_split_to_array(trim(text), '\\s+') END AS toks
       |  FROM documents),
       |enc AS (
       |  SELECT doc_id,
       |    array_to_string(list_transform(toks,
       |      w -> substr($f, 3, length($f) - 4)),
       |      concat(chr(31), chr(31))) AS stream
       |  FROM t)
       |SELECT doc_id,
       |  CAST(CASE WHEN stream = '' THEN 0
       |    ELSE (length(stream) - length(replace(stream, concat(chr(31), chr(31)), ''))) / 2 + 1
       |    END AS INTEGER) AS n_bpe,
       |  md5(stream) AS bpe_hash
       |FROM enc""".stripMargin
  }

  private val exactKnnSql =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
      |c AS (SELECT vec_id AS id, v FROM e WHERE vec_id >= 5),
      |scored AS (
      |  SELECT qid, id,
      |    list_reduce(list_transform(range(1, len(v) + 1), i -> qv[i] * v[i]), (a, b) -> a + b)
      |    / sqrt(
      |      list_reduce(list_transform(range(1, len(qv) + 1), i -> qv[i] * qv[i]), (a, b) -> a + b)
      |      * list_reduce(list_transform(range(1, len(v) + 1), i -> v[i] * v[i]), (a, b) -> a + b)
      |    ) AS cosine
      |  FROM c CROSS JOIN q),
      |ranked AS (
      |  SELECT qid, id, cosine,
      |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, id) AS "rank"
      |  FROM scored)
      |SELECT qid, "rank", id, cosine FROM ranked WHERE "rank" <= 3""".stripMargin

  /** Unrolled deterministic Lloyd's k-means CTEs mirroring
    * [[graft.operators.Clustering.kmeans]]: `iters` update passes, then
    * one final assignment `a{iters+1}`. Distances are SEQUENTIAL
    * double sums over the dims (list_reduce associates left, matching
    * the engine's accumulation loop) rounded 9dp with centroid-index
    * tiebreak; means are DECIMAL(18,9)-exact element sums divided back
    * in double; an empty cluster keeps its previous centroid via the
    * (cl × dim) frame COALESCE. */
  private def kmeansCte(k: Int, iters: Int, d: Int): String =
    kmeansCte(k.toString, iters, d)

  /** `k` is spliced into the init LIMIT verbatim, so it can be a scalar
    * subquery — the auto-k mirror (ceil(n/target), q105) rides the same
    * CTEs as the fixed-k one. `srcWhere` filters the clustered source
    * (the incremental mirror q223 trains on the BASE slice only). */
  private def kmeansCte(k: String, iters: Int, d: Int,
                        srcWhere: String = ""): String = {
    val dd = d + 1
    val head =
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings $srcWhere),
         |dims AS (SELECT CAST(unnest(range(1, $dd)) AS INTEGER) AS j),
         |c0 AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1
         |    AS INTEGER) AS cl, v AS c
         |  FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT $k))"""
        .stripMargin
    val steps = (1 to iters + 1).map { i =>
      val p = i - 1
      val assign =
        s"""d$i AS (SELECT e.vec_id, c.cl,
           |    round(list_reduce(list_transform(range(1, $dd),
           |      j -> (e.v[j] - c.c[j]) * (e.v[j] - c.c[j])),
           |      (a, b) -> a + b), 9) AS d
           |  FROM e CROSS JOIN c$p c),
           |a$i AS (SELECT vec_id, cl FROM d$i
           |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
           |    ORDER BY d, cl) = 1)""".stripMargin
      if (i > iters) assign
      else assign + s""",
        |m$i AS (SELECT a.cl, dims.j,
        |    CAST(SUM(CAST(round(e.v[dims.j], 9) AS DECIMAL(18,9)))
        |      AS DOUBLE) / COUNT(*) AS mu
        |  FROM a$i a JOIN e USING (vec_id), dims GROUP BY a.cl, dims.j),
        |c$i AS (SELECT f.cl, list(COALESCE(m.mu, f.pc) ORDER BY f.j) AS c
        |  FROM (SELECT cp.cl, dims.j, cp.c[dims.j] AS pc
        |    FROM c$p cp, dims) f
        |  LEFT JOIN m$i m ON m.cl = f.cl AND m.j = f.j
        |  GROUP BY f.cl)""".stripMargin
    }
    (head +: steps).mkString(",\n")
  }

  /** Two-level k-means mirror of
    * [[graft.operators.Clustering.kmeansTwoLevel]]: the coarse level is
    * [[kmeansCte]] with k₁ = ceil(sqrt(ceil(n/target))) (final coarse
    * assignment `a{iters+1}` becomes the cell), the fine level runs the
    * SAME unrolled Lloyd conventions per cell — init = the
    * ceil(n_c/target) lowest vec_ids of each cell (id rank − 1 is the
    * fine index), sequential 9dp-rounded distances with lower-index
    * tiebreak, DECIMAL(18,9)-exact means, empty fine clusters keeping
    * their centroid — ending in `fin(vec_id, cluster)` with
    * cluster = cell · 2³² + fineIndex. */
  /** DuckDB execution hint: rewrite `name AS (` to
    * `name AS MATERIALIZED (` for the given CTEs. Semantics-neutral —
    * it only stops DuckDB from inlining a CTE into every consumer,
    * which for multi-consumer chains (training + frozen-assignment
    * branches over the same Lloyd CTEs) exploded the plan to an OOM. */
  private def materializeCtes(names: Seq[String], sql: String): String =
    // word-boundary anchored so a CTE whose name merely ENDS with a
    // hinted name (e.g. `rate` vs hint `ate`) is never rewritten
    names.foldLeft(sql)((s, n) =>
      s.replaceAll(
        "\\b" + java.util.regex.Pattern.quote(n) + " AS \\(",
        java.util.regex.Matcher.quoteReplacement(s"$n AS MATERIALIZED (")))

  private def kmeansTwoLevelCte(target: String, iters: Int,
                                d: Int, srcWhere: String = ""): String = {
    val dd = d + 1
    val k1 =
      s"(SELECT CAST(CEIL(SQRT(CEIL(COUNT(*) / $target))) AS BIGINT) FROM e)"
    val head = kmeansCte(k1, iters, d, srcWhere) + s""",
      |pts AS (SELECT e.vec_id, a.cl AS cell, e.v
      |  FROM a${iters + 1} a JOIN e USING (vec_id)),
      |csz AS (SELECT cell, COUNT(*) AS nc FROM pts GROUP BY 1),
      |frk AS (SELECT p.cell, p.vec_id, p.v,
      |    ROW_NUMBER() OVER (PARTITION BY p.cell ORDER BY p.vec_id) AS rk,
      |    CAST(CEIL(c.nc / $target) AS BIGINT) AS k2
      |  FROM pts p JOIN csz c USING (cell)),
      |f0 AS (SELECT cell, CAST(rk - 1 AS INTEGER) AS fj, v AS c
      |  FROM frk WHERE rk <= k2)""".stripMargin
    val steps = (1 to iters + 1).map { i =>
      val p = i - 1
      val assign =
        s"""fd$i AS (SELECT p.vec_id, p.cell, c.fj,
           |    round(list_reduce(list_transform(range(1, $dd),
           |      j -> (p.v[j] - c.c[j]) * (p.v[j] - c.c[j])),
           |      (a, b) -> a + b), 9) AS d
           |  FROM pts p JOIN f$p c USING (cell)),
           |fa$i AS (SELECT vec_id, cell, fj FROM fd$i
           |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
           |    ORDER BY d, fj) = 1)""".stripMargin
      if (i > iters) assign
      else assign + s""",
        |fm$i AS (SELECT a.cell, a.fj, dims.j,
        |    CAST(SUM(CAST(round(p.v[dims.j], 9) AS DECIMAL(18,9)))
        |      AS DOUBLE) / COUNT(*) AS mu
        |  FROM fa$i a JOIN pts p USING (vec_id), dims
        |  GROUP BY 1, 2, 3),
        |f$i AS (SELECT fx.cell, fx.fj,
        |    list(COALESCE(m.mu, fx.pc) ORDER BY fx.j) AS c
        |  FROM (SELECT cp.cell, cp.fj, dims.j, cp.c[dims.j] AS pc
        |    FROM f$p cp, dims) fx
        |  LEFT JOIN fm$i m ON m.cell = fx.cell AND m.fj = fx.fj
        |    AND m.j = fx.j
        |  GROUP BY fx.cell, fx.fj)""".stripMargin
    }
    val fin = s""",
      |fin AS (SELECT vec_id,
      |  CAST(cell AS BIGINT) * 4294967296 + fj AS cluster
      |  FROM fa${iters + 1})""".stripMargin
    (head +: steps).mkString(",\n") + fin
  }

  val all: Map[String, String] = Map(

    "q41_knn_lsh" -> (
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |""".stripMargin + lshBucketCte(6) + """,
        |q AS (
        |  SELECT e.vec_id AS qid, v AS qv, pb.bucket
        |  FROM e JOIN buckets b USING (vec_id),
        |    LATERAL (SELECT unnest([b.bucket, xor(b.bucket, 1),
        |      xor(b.bucket, 2)]) AS bucket) pb
        |  WHERE e.vec_id < 5),
        |c AS (
        |  SELECT e.vec_id AS id, v, bucket
        |  FROM e JOIN buckets USING (vec_id) WHERE e.vec_id >= 5),
        |scored AS (
        |  SELECT qid, id,
        |    list_reduce(list_transform(range(1, len(v) + 1), i -> qv[i] * v[i]), (a, b) -> a + b)
        |    / sqrt(
        |      list_reduce(list_transform(range(1, len(qv) + 1), i -> qv[i] * qv[i]), (a, b) -> a + b)
        |      * list_reduce(list_transform(range(1, len(v) + 1), i -> v[i] * v[i]), (a, b) -> a + b)
        |    ) AS cosine
        |  FROM c JOIN q USING (bucket)),
        |ranked AS (
        |  SELECT qid, id, cosine,
        |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, id) AS "rank"
        |  FROM scored)
        |SELECT qid, "rank", id, cosine FROM ranked WHERE "rank" <= 3""".stripMargin),

    "q45_embedding_dedup" -> (
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |""".stripMargin + lshBucketCte(4) + """,
        |d AS (SELECT e.vec_id AS id, v, bucket FROM e JOIN buckets USING (vec_id)),
        |pairs AS (
        |  SELECT a.id AS id_a, b.id AS id_b,
        |    list_reduce(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i]), (x, y) -> x + y)
        |    / sqrt(
        |      list_reduce(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * a.v[i]), (x, y) -> x + y)
        |      * list_reduce(list_transform(range(1, len(b.v) + 1), i -> b.v[i] * b.v[i]), (x, y) -> x + y)
        |    ) AS cosine
        |  FROM d a JOIN d b ON a.bucket = b.bucket AND a.id < b.id)
        |SELECT id_a, id_b, cosine FROM pairs WHERE cosine >= 0.25""".stripMargin),

    "q46_uniform_downsample" -> (
      "SELECT event_id FROM events WHERE CAST(" +
        hex8("CAST(event_id AS VARCHAR)") +
        " AS DOUBLE) / 4294967296.0 < 0.1"),

    "q40_simhash_pairs" -> (simhashCte + """
      |SELECT id_a, id_b, hamming FROM (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |    CAST(bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi))
      |      AS BIGINT) AS hamming,
      |    a.lo AS alo, a.hi AS ahi, b.lo AS blo, b.hi AS bhi
      |  FROM sig a, sig b WHERE a.doc_id < b.doc_id)
      |WHERE hamming <= 16 AND (
      |  (alo & 65535) = (blo & 65535)
      |  OR ((alo >> 16) & 65535) = ((blo >> 16) & 65535)
      |  OR (ahi & 65535) = (bhi & 65535)
      |  OR ((ahi >> 16) & 65535) = ((bhi >> 16) & 65535))""".stripMargin),

    "q53_logistic_newton" -> (
      """WITH pts AS (
        |  SELECT CAST(embedding[1] AS DOUBLE) AS x,
        |    CASE WHEN label >= 5 THEN 1.0 ELSE 0.0 END AS y
        |  FROM embeddings),
        |s0 AS (SELECT 0.0 AS a, 0.0 AS b),
        |""".stripMargin +
        (1 to 12).map(i => newtonStep(s"s${i - 1}", s"s$i"))
          .mkString(",\n") + "\n" +
        """SELECT ROUND(a, 5) AS slope, ROUND(b, 5) AS intercept
          |FROM s12""".stripMargin),

    // Coordinate descent unrolled as closed-form rounds (nIterations = 2,
    // coordinate order fixed→random, mirroring CoordinateDescent.train):
    //   f1: fixed on zero residual  → βₜ = Σₜ y / (nₜ + 1e-6)
    //   r1: random on offset = f1   → αᵤ = meanᵤ(y − βₜ)   (unregularized)
    //   f2: fixed on offset = r1    → βₜ = Σₜ(y − αᵤ) / (nₜ + 1e-6)
    //   r2: random on offset = f2   → αᵤ = meanᵤ(y − βₜ)
    "q52_game_events" ->
      """WITH ev AS (SELECT user_id, event_type, value AS y FROM events),
        |f1 AS (
        |  SELECT event_type, SUM(y) / (COUNT(*) + 1e-6) AS beta
        |  FROM ev GROUP BY event_type),
        |r1 AS (
        |  SELECT user_id, SUM(y - beta) / COUNT(*) AS alpha
        |  FROM ev JOIN f1 USING (event_type) GROUP BY user_id),
        |f2 AS (
        |  SELECT event_type, SUM(y - alpha) / (COUNT(*) + 1e-6) AS beta
        |  FROM ev JOIN r1 USING (user_id) GROUP BY event_type),
        |r2 AS (
        |  SELECT user_id, SUM(y - beta) / COUNT(*) AS alpha
        |  FROM ev JOIN f2 USING (event_type) GROUP BY user_id)
        |SELECT 'eventType' AS coordinate, event_type AS entity,
        |  ROUND(beta + 1e-9, 6) AS weight FROM f2
        |UNION ALL
        |SELECT 'perUser' AS coordinate, CAST(user_id AS VARCHAR) AS entity,
        |  ROUND(alpha + 1e-9, 6) AS weight FROM r2""".stripMargin,

    "q55_re_means" ->
      """SELECT user_id, ROUND(AVG(value) + 1e-9, 6) AS mean_value
        |FROM events GROUP BY user_id""".stripMargin,

    // q91: per-user 2-feature ridge (q54's Cramer template grouped per
    // entity). The engine solves in each user's 2-dim ACTIVE subspace of
    // the 4-dim global feature space and scatters back; the solve values
    // are identical to this full-rank-on-active-dims closed form, and
    // inactive_abs = 0.0 asserts the scatter wrote zeros elsewhere
    "q91_re_ridge" ->
      """WITH pts AS (
        |  SELECT CAST(user_id AS VARCHAR) AS entity,
        |    CAST(event_id % 7 AS DOUBLE) - 3.0 AS x1,
        |    CAST(event_id % 11 AS DOUBLE) - 5.0 AS x2,
        |    value AS y
        |  FROM events),
        |m AS (
        |  SELECT entity, CAST(COUNT(*) AS DOUBLE) AS n,
        |    SUM(x1) AS sx1, SUM(x2) AS sx2, SUM(y) AS sy,
        |    SUM(x1*x1) + 0.1 AS s11, SUM(x1*x2) AS s12,
        |    SUM(x2*x2) + 0.1 AS s22, SUM(x1*y) AS s1y, SUM(x2*y) AS s2y
        |  FROM pts GROUP BY entity),
        |d AS (
        |  SELECT *, s11*(s22*n - sx2*sx2) - s12*(s12*n - sx2*sx1)
        |    + sx1*(s12*sx2 - s22*sx1) AS det
        |  FROM m)
        |SELECT entity,
        |  ROUND((s1y*(s22*n - sx2*sx2) - s12*(s2y*n - sx2*sy)
        |    + sx1*(s2y*sx2 - s22*sy)) / det + 1e-9, 6) AS w1,
        |  ROUND((s11*(s2y*n - sx2*sy) - s1y*(s12*n - sx2*sx1)
        |    + sx1*(s12*sy - s2y*sx1)) / det + 1e-9, 6) AS w2,
        |  ROUND((s11*(s22*sy - s2y*sx2) - s12*(s12*sy - s2y*sx1)
        |    + s1y*(s12*sx2 - s22*sx1)) / det + 1e-9, 6) AS intercept,
        |  0.0 AS inactive_abs
        |FROM d""".stripMargin,

    "q54_ridge_closed" ->
      """WITH pts AS (
        |  SELECT CAST(embedding[1] AS DOUBLE) AS x1,
        |    CAST(embedding[2] AS DOUBLE) AS x2,
        |    CAST(label AS DOUBLE) AS y
        |  FROM embeddings),
        |m AS (
        |  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
        |    SUM(x1) AS sx1, SUM(x2) AS sx2, SUM(y) AS sy,
        |    SUM(x1*x1) + 0.1 AS s11, SUM(x1*x2) AS s12,
        |    SUM(x2*x2) + 0.1 AS s22, SUM(x1*y) AS s1y, SUM(x2*y) AS s2y
        |  FROM pts),
        |d AS (
        |  SELECT *,
        |    s11*(s22*n - sx2*sx2) - s12*(s12*n - sx2*sx1)
        |      + sx1*(s12*sx2 - s22*sx1) AS det
        |  FROM m)
        |SELECT
        |  ROUND((s1y*(s22*n - sx2*sx2) - s12*(s2y*n - sx2*sy)
        |    + sx1*(s2y*sx2 - s22*sy)) / det, 6) AS w1,
        |  ROUND((s11*(s2y*n - sx2*sy) - s1y*(s12*n - sx2*sx1)
        |    + sx1*(s12*sy - s2y*sx1)) / det, 6) AS w2,
        |  ROUND((s11*(s22*sy - s2y*sx2) - s12*(s12*sy - s2y*sx1)
        |    + s1y*(s12*sx2 - s22*sx1)) / det, 6) AS intercept
        |FROM d""".stripMargin,

    // q50o: ridge on embedding[3..4] + intercept, λ=0.05 — Cramer's rule
    // on the 3×3 normal equations (intercept unregularized), mirroring
    // q54's algebra with different features/λ. Gates the LBFGS solver
    // path, which q50 runs at 64 dims without an oracle.
    "q50o_glm_lbfgs" ->
      """WITH pts AS (
        |  SELECT CAST(embedding[3] AS DOUBLE) AS x1,
        |    CAST(embedding[4] AS DOUBLE) AS x2,
        |    CAST(label AS DOUBLE) AS y
        |  FROM embeddings),
        |m AS (
        |  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
        |    SUM(x1) AS sx1, SUM(x2) AS sx2, SUM(y) AS sy,
        |    SUM(x1*x1) + 0.05 AS s11, SUM(x1*x2) AS s12,
        |    SUM(x2*x2) + 0.05 AS s22, SUM(x1*y) AS s1y, SUM(x2*y) AS s2y
        |  FROM pts),
        |d AS (
        |  SELECT *,
        |    s11*(s22*n - sx2*sx2) - s12*(s12*n - sx2*sx1)
        |      + sx1*(s12*sx2 - s22*sx1) AS det
        |  FROM m)
        |SELECT
        |  ROUND((s1y*(s22*n - sx2*sx2) - s12*(s2y*n - sx2*sy)
        |    + sx1*(s2y*sx2 - s22*sy)) / det, 6) AS w1,
        |  ROUND((s11*(s2y*n - sx2*sy) - s1y*(s12*n - sx2*sx1)
        |    + sx1*(s12*sy - s2y*sx1)) / det, 6) AS w2,
        |  ROUND((s11*(s22*sy - s2y*sx2) - s12*(s12*sy - s2y*sx1)
        |    + s1y*(s12*sx2 - s22*sx1)) / det, 6) AS intercept
        |FROM d""".stripMargin,

    // q51o: no-intercept ridge on embedding[2..4], λ=0.1 — pure 3×3
    // (XᵀX + λI)w = Xᵀy by Cramer. Gates TRON on the fitIntercept=false
    // shape; q51 stays the 64-dim smoke test. 4-dp compare: TRON stalls
    // ~5e-7 from the optimum (trust-region collapse from fp cancellation
    // near convergence), which straddles 6-dp boundaries at sf0.1.
    "q51o_glm_tron" ->
      """WITH pts AS (
        |  SELECT CAST(embedding[2] AS DOUBLE) AS x1,
        |    CAST(embedding[3] AS DOUBLE) AS x2,
        |    CAST(embedding[4] AS DOUBLE) AS x3,
        |    CAST(label AS DOUBLE) AS y
        |  FROM embeddings),
        |m AS (
        |  SELECT
        |    SUM(x1*x1) + 0.1 AS s11, SUM(x1*x2) AS s12, SUM(x1*x3) AS s13,
        |    SUM(x2*x2) + 0.1 AS s22, SUM(x2*x3) AS s23,
        |    SUM(x3*x3) + 0.1 AS s33,
        |    SUM(x1*y) AS b1, SUM(x2*y) AS b2, SUM(x3*y) AS b3
        |  FROM pts),
        |d AS (
        |  SELECT *,
        |    s11*(s22*s33 - s23*s23) - s12*(s12*s33 - s23*s13)
        |      + s13*(s12*s23 - s22*s13) AS det
        |  FROM m)
        |SELECT
        |  ROUND((b1*(s22*s33 - s23*s23) - s12*(b2*s33 - s23*b3)
        |    + s13*(b2*s23 - s22*b3)) / det, 4) AS w1,
        |  ROUND((s11*(b2*s33 - s23*b3) - b1*(s12*s33 - s23*s13)
        |    + s13*(s12*b3 - b2*s13)) / det, 4) AS w2,
        |  ROUND((s11*(s22*b3 - b2*s23) - s12*(s12*b3 - b2*s13)
        |    + b1*(s12*s23 - s22*s13)) / det, 4) AS w3
        |FROM d""".stripMargin,

    "q01_pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
         |  CAST(ROUND(SUM($revenue), 2) AS DOUBLE) AS sum_disc_price,
         |  CAST(ROUND(SUM($revenue * CAST(1 + l_tax AS DECIMAL(12,4))), 2) AS DOUBLE) AS sum_charge,
         |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
         |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
         |  CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / COUNT(l_discount) AS avg_disc,
         |  COUNT(*) AS count_order
         |FROM lineitem
         |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q02_column_stats" -> Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      .map(c =>
        s"""SELECT '$c' AS feature, COUNT(*) AS n,
           |  CAST(SUM(CASE WHEN $c <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_nonzero,
           |  MIN($c) AS vmin, MAX($c) AS vmax,
           |  CAST(SUM(CAST($c AS DECIMAL(18,4))) AS DOUBLE) AS vsum,
           |  CAST(SUM(CAST($c AS DECIMAL(18,4))) AS DOUBLE) / COUNT($c) AS vmean,
           |  CAST(SUM(CAST(ABS($c) AS DECIMAL(18,4))) AS DOUBLE) AS l1
           |FROM lineitem""".stripMargin).mkString("\nUNION ALL\n"),

    "q03_brand_revenue" ->
      s"""SELECT p_brand,
         |  CAST(ROUND(SUM($revenue), 2) AS DOUBLE) AS revenue,
         |  COUNT(*) AS n_items
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |GROUP BY p_brand""".stripMargin,

    "q04_offset_plus_scores" ->
      s"""WITH scores AS (
         |  SELECT l_orderkey AS o_orderkey,
         |    CAST(ROUND(SUM($revenue), 2) AS DOUBLE) AS score
         |  FROM lineitem GROUP BY 1),
         |o AS (
         |  SELECT o_orderstatus,
         |    CAST(CAST(o_totalprice AS DECIMAL(18,4)) AS DOUBLE)
         |      + COALESCE(score, 0.0) AS off
         |  FROM orders LEFT JOIN scores USING (o_orderkey))
         |SELECT o_orderstatus, COUNT(*) AS n,
         |  CAST(SUM(CAST(off AS DECIMAL(18,4))) AS DOUBLE) AS sum_offset
         |FROM o GROUP BY o_orderstatus""".stripMargin,

    "q05_score_add" ->
      """WITH s1 AS (SELECT c_custkey AS custkey, c_acctbal AS score FROM customer),
        |s2 AS (SELECT o_custkey AS custkey,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS score
        |  FROM orders GROUP BY 1)
        |SELECT COALESCE(s1.custkey, s2.custkey) AS custkey,
        |  COALESCE(s1.score, 0.0) + COALESCE(s2.score, 0.0) AS score
        |FROM s1 FULL JOIN s2 ON s1.custkey = s2.custkey""".stripMargin,

    "q06_customers_no_orders" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin,

    "q07_brands_with_sales" ->
      """SELECT p_brand, COUNT(*) AS n_parts FROM part
        |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
        |GROUP BY p_brand""".stripMargin,

    "q08_topk_per_order" ->
      """WITH x AS (
        |  SELECT l_orderkey, l_linenumber, l_extendedprice,
        |    ROW_NUMBER() OVER (PARTITION BY l_orderkey
        |      ORDER BY l_extendedprice DESC, l_linenumber) AS rn
        |  FROM lineitem)
        |SELECT l_orderkey, l_linenumber, l_extendedprice FROM x WHERE rn <= 2""".stripMargin,

    "q09_grouped_mean" ->
      """WITH per AS (
        |  SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS total,
        |    COUNT(*) AS n_orders
        |  FROM orders GROUP BY o_custkey)
        |SELECT COUNT(*) AS n_customers,
        |  CAST(SUM(total) AS DOUBLE) / COUNT(*) AS mean_customer_total,
        |  CAST(SUM(n_orders) AS DOUBLE) / COUNT(*) AS mean_orders_per_customer
        |FROM per""".stripMargin,

    "q10_distinct_flags" ->
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",

    "q11_union_parties" ->
      """SELECT c_custkey AS id, c_name AS name, c_acctbal AS acctbal,
        |  'customer' AS kind FROM customer
        |UNION ALL
        |SELECT s_suppkey AS id, s_name AS name, s_acctbal AS acctbal,
        |  'supplier' AS kind FROM supplier""".stripMargin,

    "q12_except_custkeys" ->
      """SELECT c_custkey AS custkey FROM customer
        |EXCEPT
        |SELECT o_custkey AS custkey FROM orders""".stripMargin,

    "q13_region_revenue" ->
      s"""SELECT r_name,
         |  CAST(ROUND(SUM($revenue), 2) AS DOUBLE) AS revenue,
         |  COUNT(*) AS n_items
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey AND year(o_orderdate) = 1996
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY r_name""".stripMargin,

    "q14_running_sum" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER (
        |    PARTITION BY l_suppkey
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running
        |FROM lineitem WHERE l_suppkey <= 2""".stripMargin,

    "q15_validators" ->
      """SELECT 'nonpositive_price' AS rule, CAST(SUM(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS violations FROM lineitem
        |UNION ALL
        |SELECT 'null_quantity', CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
        |UNION ALL
        |SELECT 'discount_out_of_range', CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
        |UNION ALL
        |SELECT 'negative_tax', CAST(SUM(CASE WHEN l_tax < 0 THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
        |UNION ALL
        |SELECT 'bad_flag', CAST(SUM(CASE WHEN l_returnflag NOT IN ('A','N','R') THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem""".stripMargin,

    "q16_daily_events" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS day, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
        |  AND ts < TIMESTAMP '2024-01-20 00:00:00'
        |GROUP BY 1""".stripMargin,

    "q17_tumbling_window" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS day,
        |  CAST(FLOOR(EXTRACT(hour FROM ts) / 6) AS BIGINT) AS h6,
        |  event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2, 3""".stripMargin,

    "q18_reservoir" ->
      """WITH x AS (
        |  SELECT l_orderkey, l_linenumber,
        |    ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY
        |      md5(CAST(l_orderkey AS VARCHAR) || '_' || CAST(l_linenumber AS VARCHAR))) AS rn,
        |    COUNT(*) OVER (PARTITION BY l_orderkey) AS n
        |  FROM lineitem)
        |SELECT l_orderkey, l_linenumber,
        |  CASE WHEN n > 2 THEN CAST(n AS DOUBLE) / 2 ELSE 1.0 END AS weight_scale
        |FROM x WHERE rn <= 2""".stripMargin,

    "q19_binary_downsample" ->
      """WITH kept AS (
        |  SELECT event_type,
        |    CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 1.0 * 4.0 END AS w
        |  FROM events
        |  WHERE event_type = 'purchase' OR md5(CAST(event_id AS VARCHAR)) < '40')
        |SELECT event_type, COUNT(*) AS n_kept,
        |  CAST(SUM(CAST(w AS DECIMAL(18,6))) AS DOUBLE) AS sum_weight
        |FROM kept GROUP BY event_type""".stripMargin,

    "q20_dedup_exact" ->
      """SELECT md5(text) AS content_hash, MIN(doc_id) AS keeper_id,
        |  COUNT(*) AS n_copies
        |FROM documents GROUP BY md5(text)""".stripMargin,

    "q21_token_count" -> (toksCte + """
        |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(length(text) AS BIGINT) AS n_chars_measured
        |FROM t""".stripMargin),

    "q22_text_quality" -> (toksCte + """
        |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CASE WHEN len(toks) = 0 THEN 0.0 ELSE
        |    CAST(len(list_filter(toks, tk -> list_contains(
        |      ['the','a','of','to','and','in','is'], lower(tk)))) AS DOUBLE)
        |      / len(toks) END AS stopword_ratio,
        |  CASE WHEN len(toks) = 0 THEN 0.0 ELSE
        |    CAST(length(regexp_replace(trim(text), '\s+', '', 'g')) AS DOUBLE)
        |      / len(toks) END AS mean_token_len
        |FROM t""".stripMargin),

    "q23_lang_id" -> (toksCte + """,
        |hits AS (
        |  SELECT doc_id,
        |    len(list_filter(toks, tk -> list_contains(['the','and','of','to','in','is','a'], lower(tk)))) AS en,
        |    len(list_filter(toks, tk -> list_contains(['le','la','et','les','des','un','une'], lower(tk)))) AS fr,
        |    len(list_filter(toks, tk -> list_contains(['der','die','und','das','nicht','ist','ein'], lower(tk)))) AS de,
        |    len(list_filter(toks, tk -> list_contains(['el','los','y','que','en','una','por'], lower(tk)))) AS es
        |  FROM t)
        |SELECT doc_id, CASE
        |  WHEN en = greatest(en, fr, de, es) AND en > 0 THEN 'en'
        |  WHEN fr = greatest(en, fr, de, es) AND fr > 0 THEN 'fr'
        |  WHEN de = greatest(en, fr, de, es) AND de > 0 THEN 'de'
        |  WHEN es = greatest(en, fr, de, es) AND es > 0 THEN 'es'
        |  ELSE 'und' END AS lang_guess
        |FROM hits""".stripMargin),

    "q24_fingerprint" ->
      "SELECT doc_id, substr(md5(text), 1, 16) AS fp FROM documents",

    "q56_repetition" -> (toksCte + """,
        |tc AS (
        |  SELECT doc_id, g, count(*) AS c
        |  FROM (SELECT doc_id, unnest(toks) AS g FROM t) GROUP BY 1, 2),
        |uni AS (
        |  SELECT doc_id,
        |    1.0 - CAST(count(*) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS dup_frac,
        |    CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS top_frac
        |  FROM tc GROUP BY doc_id),
        |bc AS (
        |  SELECT doc_id, g, count(*) AS c
        |  FROM (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
        |          i -> toks[i] || ' ' || toks[i+1])) AS g FROM t)
        |  GROUP BY 1, 2),
        |bi AS (
        |  SELECT doc_id,
        |    CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS top_bg
        |  FROM bc GROUP BY doc_id)
        |SELECT t.doc_id,
        |  round(coalesce(uni.dup_frac, 0.0) + 1e-9, 6) AS dup_token_frac,
        |  round(coalesce(uni.top_frac, 0.0) + 1e-9, 6) AS top_token_frac,
        |  round(coalesce(bi.top_bg, 0.0) + 1e-9, 6) AS top_bigram_frac
        |FROM t LEFT JOIN uni ON t.doc_id = uni.doc_id
        |       LEFT JOIN bi ON t.doc_id = bi.doc_id""".stripMargin),

    "q44_clean_corpus" -> (toksCte + """,
        |hits AS (
        |  SELECT doc_id, text, CAST(len(toks) AS INTEGER) AS n_tokens,
        |    len(list_filter(toks, tk -> list_contains(['the','and','of','to','in','is','a'], lower(tk)))) AS en,
        |    len(list_filter(toks, tk -> list_contains(['le','la','et','les','des','un','une'], lower(tk)))) AS fr,
        |    len(list_filter(toks, tk -> list_contains(['der','die','und','das','nicht','ist','ein'], lower(tk)))) AS de,
        |    len(list_filter(toks, tk -> list_contains(['el','los','y','que','en','una','por'], lower(tk)))) AS es
        |  FROM t),
        |lang AS (
        |  SELECT doc_id, text, n_tokens, CASE
        |    WHEN en = greatest(en, fr, de, es) AND en > 0 THEN 'en'
        |    WHEN fr = greatest(en, fr, de, es) AND fr > 0 THEN 'fr'
        |    WHEN de = greatest(en, fr, de, es) AND de > 0 THEN 'de'
        |    WHEN es = greatest(en, fr, de, es) AND es > 0 THEN 'es'
        |    ELSE 'und' END AS lang_guess
        |  FROM hits),
        |kept AS (
        |  SELECT * FROM lang
        |  WHERE n_tokens >= 5 AND lang_guess IN ('en', 'fr'))
        |SELECT doc_id, n_tokens, lang_guess FROM kept
        |WHERE doc_id IN (
        |  SELECT MIN(doc_id) FROM kept GROUP BY md5(text))""".stripMargin),

    "q25_shingle_stats" -> (shinglesCte + """
        |SELECT doc_id, CAST(len(sh3) AS BIGINT) AS n_shingles,
        |  CAST(len(list_distinct(sh3)) AS BIGINT) AS n_distinct_shingles
        |FROM sh""".stripMargin),

    "q26_jaccard_pairs" -> (shinglesCte + """,
        |ds AS (SELECT doc_id, source, list_distinct(sh3) AS sh FROM sh),
        |p AS (
        |  SELECT a.source AS block, a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |      / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
        |      AS jaccard
        |  FROM ds a JOIN ds b ON a.source = b.source AND a.doc_id < b.doc_id)
        |SELECT block, id_a, id_b, jaccard FROM p WHERE jaccard >= 0.01""".stripMargin),

    // q57: same pair graph as q26, resolved to components by transitive
    // closure (small data lets the oracle afford O(n·|C|) reachability;
    // the engine runs O(log n) large-star/small-star instead), then the
    // same canonical policy: max token count, ties -> min doc_id.
    // Candidate pairs come from a shared-shingle equi-join, not an
    // all-pairs block join: jaccard >= 0.01 > 0 requires at least one
    // common shingle, so the prefilter is value-identical — and it is
    // what lets DuckDB finish this mirror at sf1 (the all-pairs form
    // grows quadratically with docs-per-source and exceeded 15 min).
    "q57_dup_clusters" -> (dupComponentsCte + """,
        |best AS (
        |  SELECT component, COUNT(*) AS cluster_size, MAX(ntok) AS maxp
        |  FROM base GROUP BY component),
        |canon AS (
        |  SELECT base.component, MIN(base.doc_id) AS canonical_id
        |  FROM base JOIN best USING (component)
        |  WHERE base.ntok = best.maxp GROUP BY base.component)
        |SELECT base.doc_id, base.component, best.cluster_size,
        |  canon.canonical_id
        |FROM base JOIN best USING (component)
        |JOIN canon USING (component)""".stripMargin),

    // q219: the q57 component chain composed into the grouped split —
    // the hash runs over CAST(component AS VARCHAR) with the 'gsplit'
    // salt, so a whole NEAR-dup cluster shares a side by construction
    "q219_neardup_grouped_split" -> (dupComponentsCte + """
        |SELECT doc_id, component, CASE WHEN f < 0.8 THEN 'train'
        |  WHEN f < 0.9 THEN 'val' ELSE 'test' END AS split
        |FROM (SELECT doc_id, component, CAST(""".stripMargin +
      hex8("'gsplit_' || CAST(component AS VARCHAR)") +
      " AS DOUBLE) / 4294967296.0 AS f FROM base)"),

    "q27_minhash" -> (shinglesCte + """,
        |sigs AS (
        |  SELECT doc_id,
        |    COALESCE(list_min(list_transform(sh3, s -> substr(md5(s), 1, 8))), 'zzzzzzzz') AS mh0,
        |    COALESCE(list_min(list_transform(sh3, s -> substr(md5(s), 9, 8))), 'zzzzzzzz') AS mh1,
        |    COALESCE(list_min(list_transform(sh3, s -> substr(md5(s), 17, 8))), 'zzzzzzzz') AS mh2,
        |    COALESCE(list_min(list_transform(sh3, s -> substr(md5(s), 25, 8))), 'zzzzzzzz') AS mh3
        |  FROM sh)
        |SELECT doc_id, mh0, mh1, mh2, mh3,
        |  md5(mh0 || '|' || mh1) AS band0
        |FROM sigs""".stripMargin),

    "q28_lsh_buckets" -> (shinglesCte + """,
        |sigs AS (
        |  SELECT doc_id,
        |    COALESCE(list_min(list_transform(sh3, s -> substr(md5(s), 1, 8))), 'zzzzzzzz') AS mh0,
        |    COALESCE(list_min(list_transform(sh3, s -> substr(md5(s), 9, 8))), 'zzzzzzzz') AS mh1
        |  FROM sh)
        |SELECT md5(mh0 || '|' || mh1) AS band0, COUNT(*) AS n_docs
        |FROM sigs GROUP BY 1""".stripMargin),

    "q29_knn_brute" -> exactKnnSql,

    // IVF probing ALL lists is exhaustive search: must equal the exact
    // brute-force top-k whatever the k-means fit learned
    "q43o_knn_ivf_full" -> exactKnnSql,

    // the persisted-index round-trip (build → parquet → load → probe
    // all lists) must also be exhaustive-exact
    "q211_knn_ivf_index" -> exactKnnSql,

    // build-on-half + append-half probing all lists: every vector is
    // in exactly one list whatever the assignment, so probe-all over
    // the grown index is exhaustive over the full corpus
    "q214_knn_ivf_append" -> exactKnnSql,

    // build-on-half + encode-append-half against existing quantizers,
    // probe-all + refine-all: exhaustive-exact over the full corpus
    "q215_knn_ivfpq_append" -> exactKnnSql,
    // compaction gates: build + append + compact/rebuild, probe-all
    // must still degenerate to exhaustive search
    "q217_knn_ivf_compact" -> exactKnnSql,
    "q218_knn_ivfpq_compact" -> exactKnnSql,

    // streaming ingest: build-on-half + micro-batch append stream,
    // probe-all over the grown index is exhaustive over the corpus
    "q221_knn_ivf_stream_ingest" -> exactKnnSql,

    // same, compressed layout: PQ-encoded micro-batch appends, then
    // probe-all + refine-all degenerates to exhaustive-exact
    "q227_knn_ivfpq_stream_ingest" -> exactKnnSql,

    // PQ index health, deterministic fields: quantizer always emits 8
    // lists, rows = corpus, probe-all + refine-all recall exactly 1.0
    "q230_index_health_pq" ->
      """SELECT CAST(8 AS INTEGER) AS n_lists,
        |  count(*) AS total_rows,
        |  CAST(1.0 AS DOUBLE) AS recall_at_k
        |FROM embeddings WHERE vec_id >= 5""".stripMargin,

    // plan->apply maintenance gate: list count and corpus rows are
    // deterministic; the fragmented index must plan 'compact' (probe-all
    // recall is exact, so only the file ceiling trips) and the applied
    // compaction must return the plan to 'none'
    "q229_index_maintenance" ->
      """SELECT CAST(8 AS INTEGER) AS n_lists,
        |  count(*) AS total_rows,
        |  'compact' AS action_fragmented,
        |  'none' AS action_compacted
        |FROM embeddings WHERE vec_id >= 5""".stripMargin,

    // e2e GAME training gate: the split sizes and per-coordinate model
    // counts are deterministic facts of the mod-5 split over events
    // (one intercept model per distinct entity in TRAIN), and rmse_ok
    // must come back TRUE — a regressed optimizer fails the hash.
    // Entity ids mirror Spark's pmod (((x % m) + m) % m) so negative
    // event_ids bucket identically — same divergence class as q225.
    "q228_game_train_e2e" ->
      """WITH t AS (SELECT ((event_id % 101) + 101) % 101 AS item,
        |    user_id FROM events
        |  WHERE event_id % 5 <> 0)
        |SELECT (SELECT count(*) FROM t) AS n_train,
        |  (SELECT count(*) FROM events WHERE event_id % 5 = 0)
        |    AS n_valid,
        |  (SELECT count(DISTINCT user_id) FROM t) AS n_users,
        |  (SELECT count(DISTINCT item) FROM t) AS n_items,
        |  (SELECT count(DISTINCT ((item % 13) + 13) % 13) FROM t)
        |    AS n_artists,
        |  TRUE AS rmse_ok""".stripMargin,

    // q231: q228's logistic twin — same deterministic split/entity
    // facts (pmod-normalized), and auc_ok must come back TRUE (the
    // trained model's validation AUC clears a floor the fixed effects
    // alone cannot)
    "q231_game_train_logistic" ->
      """WITH t AS (SELECT ((event_id % 31) + 31) % 31 AS item,
        |    user_id FROM events
        |  WHERE event_id % 5 <> 0)
        |SELECT (SELECT count(*) FROM t) AS n_train,
        |  (SELECT count(*) FROM events WHERE event_id % 5 = 0)
        |    AS n_valid,
        |  (SELECT count(DISTINCT user_id) FROM t) AS n_users,
        |  (SELECT count(DISTINCT item) FROM t) AS n_items,
        |  (SELECT count(DISTINCT ((item % 7) + 7) % 7) FROM t)
        |    AS n_artists,
        |  TRUE AS auc_ok""".stripMargin,

    // q232: incremental retraining's exact posterior — phase 1 is the
    // intercept-unregularized ridge normal system on the even half,
    // phase 2 re-solves the odd half with the phase-1 coefficients as
    // a weight-2 Gaussian prior on BOTH slots (saved without
    // variances -> unit prior variances): (A2 + wI)theta = b2 + w*theta1.
    // Both 2x2 systems solved by Cramer.
    "q232_game_train_incremental" ->
      """WITH d1 AS (SELECT CAST(embedding[4] AS DOUBLE) AS x,
        |    CAST(label AS DOUBLE) AS y FROM embeddings
        |    WHERE vec_id % 2 = 0),
        |d2 AS (SELECT CAST(embedding[4] AS DOUBLE) AS x,
        |    CAST(label AS DOUBLE) AS y FROM embeddings
        |    WHERE vec_id % 2 <> 0),
        |m1 AS (SELECT SUM(x*x) AS sxx, SUM(x) AS sx, SUM(x*y) AS sxy,
        |    SUM(y) AS sy, CAST(COUNT(*) AS DOUBLE) AS n FROM d1),
        |s1 AS (SELECT
        |    (sxy * n - sx * sy) / ((sxx + 0.05) * n - sx * sx) AS w1,
        |    ((sxx + 0.05) * sy - sx * sxy)
        |      / ((sxx + 0.05) * n - sx * sx) AS b1 FROM m1),
        |m2 AS (SELECT SUM(x*x) AS sxx, SUM(x) AS sx, SUM(x*y) AS sxy,
        |    SUM(y) AS sy, CAST(COUNT(*) AS DOUBLE) AS n FROM d2),
        |s2 AS (SELECT
        |    ((sxy + 2.0 * w1) * (n + 2.0) - sx * (sy + 2.0 * b1))
        |      / ((sxx + 2.0) * (n + 2.0) - sx * sx) AS w2,
        |    ((sxx + 2.0) * (sy + 2.0 * b1) - sx * (sxy + 2.0 * w1))
        |      / ((sxx + 2.0) * (n + 2.0) - sx * sx) AS b2
        |  FROM m2, s1)
        |SELECT ROUND(w1 + 1e-9, 6) AS w1, ROUND(b1 + 1e-9, 6) AS b1,
        |  ROUND(w2 + 1e-9, 6) AS w2, ROUND(b2 + 1e-9, 6) AS b2
        |FROM s1, s2""".stripMargin,

    // q233: the scoring driver's whole sum replayed per uid — global
    // margin + per-user + per-item intercepts, every term a pmod
    // rational of the ids
    "q233_game_score_e2e" ->
      """SELECT event_id AS uid,
        |  ROUND(0.5
        |    + 2.0 * (CAST(((event_id % 7) + 7) % 7 AS DOUBLE) / 7.0)
        |    - (CAST(((event_id % 11) + 11) % 11 AS DOUBLE) / 11.0)
        |    + CAST(((user_id % 9) + 9) % 9 AS DOUBLE) / 10.0
        |    + CAST((((((event_id % 101) + 101) % 101) % 5) + 5) % 5
        |        AS DOUBLE) / 20.0
        |    + 1e-9, 6) AS score
        |FROM events""".stripMargin,

    // q235: probing the persisted (build + append assembled) shingle
    // index must equal the direct two-sided report — q58's SQL verbatim
    "q235_decontam_index" -> (shinglesCte + """,
      |bench AS (SELECT DISTINCT unnest(sh3) AS g FROM sh
      |  WHERE source = 'src0'),
      |cand AS (SELECT DISTINCT doc_id, unnest(sh3) AS g FROM sh
      |  WHERE source <> 'src0'),
      |hits AS (SELECT doc_id, COUNT(*) AS n FROM cand
      |  JOIN bench USING (g) GROUP BY 1)
      |SELECT d.doc_id, COALESCE(h.n, 0) AS n_contaminated,
      |  COALESCE(h.n, 0) > 0 AS is_contaminated
      |FROM documents d LEFT JOIN hits h USING (doc_id)
      |WHERE d.source <> 'src0'""".stripMargin),

    // q234: the fleet plan's three actions are structural facts of the
    // three constructed index states
    "q234_fleet_maintenance_plan" ->
      """SELECT 1 AS idx, 'none' AS action
        |UNION ALL SELECT 2, 'compact'
        |UNION ALL SELECT 3, 'rebuild'""".stripMargin,

    // q239: the cross-family fleet plan's three actions are structural
    // facts of the constructed states (healthy IVF; a minhash index
    // whose one boilerplate bucket of 8 breaches the cap of 5; a
    // minhash index carrying 4 append fragment sets over the ceiling
    // of 2) — q234's pinning shape extended to the text family
    "q239_fleet_text_plan" ->
      """SELECT 1 AS idx, 'none' AS action
        |UNION ALL SELECT 2, 'dedup_prepass'
        |UNION ALL SELECT 3, 'compact'""".stripMargin,

    // q242: the persisted SimHash index probe must equal q40's
    // incremental side — nibble-exact signature rebuild, 4×16-bit
    // pigeonhole bands, Hamming <= 16 — restricted to delta (src5+) ×
    // base (src0-4) pairs. The hot-bucket guard has no mirror: no
    // 16-bit bucket approaches the 10k cap at verify scale
    "q242_simhash_index" -> (simhashCte + """,
        |bse AS (SELECT s.doc_id, s.lo, s.hi FROM sig s
        |  JOIN documents d USING (doc_id)
        |  WHERE d.source IN ('src0','src1','src2','src3','src4')),
        |dlt AS (SELECT s.doc_id, s.lo, s.hi FROM sig s
        |  JOIN documents d USING (doc_id)
        |  WHERE d.source NOT IN ('src0','src1','src2','src3','src4'))
        |SELECT delta_id, base_id, hamming FROM (
        |  SELECT a.doc_id AS delta_id, b.doc_id AS base_id,
        |    CAST(bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi))
        |      AS BIGINT) AS hamming,
        |    a.lo AS alo, a.hi AS ahi, b.lo AS blo, b.hi AS bhi
        |  FROM dlt a, bse b)
        |WHERE hamming <= 16 AND (
        |  (alo & 65535) = (blo & 65535)
        |  OR ((alo >> 16) & 65535) = ((blo >> 16) & 65535)
        |  OR (ahi & 65535) = (bhi & 65535)
        |  OR ((ahi >> 16) & 65535) = ((bhi >> 16) & 65535))"""
      .stripMargin),

    // q243: the SimHash index's health row replayed from q40's
    // signature mirror over the base sources — each doc contributes
    // one bucket per 16-bit band; hot cap 25 (q238's convention)
    "q243_simhash_health" -> (simhashCte + """,
        |bse AS (SELECT s.doc_id, s.lo, s.hi FROM sig s
        |  JOIN documents d USING (doc_id)
        |  WHERE d.source IN ('src0','src1','src2','src3','src4')),
        |bkt AS (
        |  SELECT 0 AS band, lo & 65535 AS bucket FROM bse
        |  UNION ALL SELECT 1, (lo >> 16) & 65535 FROM bse
        |  UNION ALL SELECT 2, hi & 65535 FROM bse
        |  UNION ALL SELECT 3, (hi >> 16) & 65535 FROM bse),
        |sz AS (SELECT band, bucket, COUNT(*) AS n FROM bkt GROUP BY 1, 2)
        |SELECT (SELECT COUNT(*) FROM bse) AS total_rows,
        |  COUNT(*) AS n_buckets, MAX(n) AS max_bucket,
        |  COUNT(CASE WHEN n > 25 THEN 1 END) AS hot_buckets
        |FROM sz""".stripMargin),

    // q244: the drift probe's controlled fixture makes every value an
    // exact constant — corpus duplicated on dims 0-3 axes (k-means at
    // k=4 converges to the points, base similarity exactly 1), healthy
    // batch = corpus (ratio 1 -> none), drifted batch on dims 4-7 is
    // orthogonal to every possible centroid (similarity exactly 0,
    // ratio 0 -> rebuild at floor 0.5)
    "q244_ivf_drift" ->
      """SELECT 'healthy' AS which, CAST(1.0 AS DOUBLE) AS base_mean_sim,
        |  CAST(1.0 AS DOUBLE) AS batch_mean_sim,
        |  CAST(1.0 AS DOUBLE) AS drift_ratio, 'none' AS action
        |UNION ALL
        |SELECT 'drifted', CAST(1.0 AS DOUBLE), CAST(0.0 AS DOUBLE),
        |  CAST(0.0 AS DOUBLE), 'rebuild'""".stripMargin,

    // q245: the persisted SemDeDup state's health row — every stat
    // replayed through the same unrolled-Lloyd (base) + frozen-assign
    // (day-1 append) CTEs as q237/q240, then one per-cluster count
    // aggregate; hot cap 50
    "q245_semdedup_state_health" ->
      (kmeansCte("16", 2, 64, "WHERE vec_id % 10 < 8") + """,
        |b1 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id % 10 = 8),
        |db1 AS (SELECT b1.vec_id, c.cl,
        |    round(list_reduce(list_transform(range(1, 65),
        |      j -> (b1.v[j] - c.c[j]) * (b1.v[j] - c.c[j])),
        |      (a, b) -> a + b), 9) AS d
        |  FROM b1 CROSS JOIN c2 c),
        |ab1 AS (SELECT vec_id, cl FROM db1
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
        |    ORDER BY d, cl) = 1),
        |lab AS (SELECT cl FROM a3 UNION ALL SELECT cl FROM ab1),
        |sz AS (SELECT cl, COUNT(*) AS n FROM lab GROUP BY 1)
        |SELECT CAST(16 AS BIGINT) AS n_clusters,
        |  (SELECT COUNT(*) FROM lab) AS total_rows,
        |  COUNT(*) AS occupied_clusters, MAX(n) AS max_cluster,
        |  COUNT(CASE WHEN n > 50 THEN 1 END) AS hot_clusters
        |FROM sz""".stripMargin),

    // q246: the decontam index's health row — the assembled
    // (build-even + append-odd) stored set must equal one distinct
    // shingle pass over all of src0, and distinct_shingles ==
    // total_rows pins the append anti-join's distinctness invariant
    "q246_decontam_health" -> (shinglesCte + """,
        |g AS (SELECT DISTINCT unnest(sh3) AS g FROM sh
        |  WHERE source = 'src0')
        |SELECT CAST(3 AS INTEGER) AS shingle_n,
        |  COUNT(*) AS total_rows,
        |  COUNT(DISTINCT g) AS distinct_shingles
        |FROM g""".stripMargin),

    // q247: the whole-fleet plan's seven verdicts are structural facts
    // of the constructed states — healthy IVF (probe-all recall 1.0),
    // an orthogonal-batch drift row (ratio 0 < 0.5), a minhash index
    // whose boilerplate bucket of 8 breaches cap 5, a simhash index
    // carrying 3 append fragment sets over ceiling 2, a SemDeDup state
    // with one 3-member cluster over the probe guard's cap of 2, a
    // broadcast-class decontam index no rule applies to, and an
    // exact-hash set with 4 append fragments over ceiling 2
    "q247_fleet_all_families" ->
      """SELECT 1 AS idx, 'none' AS action
        |UNION ALL SELECT 2, 'rebuild'
        |UNION ALL SELECT 3, 'dedup_prepass'
        |UNION ALL SELECT 4, 'compact'
        |UNION ALL SELECT 5, 'rebuild'
        |UNION ALL SELECT 6, 'none'
        |UNION ALL SELECT 7, 'compact'""".stripMargin,

    // q250: the persisted exact-hash index probe — md5 membership
    // against the distinct base (src1-4) hash set, q81's base-side
    // semantics with the set read from files
    "q250_exact_index" ->
      """WITH bh AS (SELECT DISTINCT md5(text) AS h FROM documents
        |  WHERE source IN ('src1','src2','src3','src4'))
        |SELECT doc_id,
        |  (md5(text) IN (SELECT h FROM bh)) AS is_dup
        |FROM documents
        |WHERE source NOT IN ('src0','src1','src2','src3','src4')"""
        .stripMargin,

    // q251: the streaming admission's accumulated verdict rows must
    // equal the one-shot batch result — q249's mirror with the
    // ORDER-INDEPENDENT exact stage (base-hash membership only; the
    // min-id intra-batch keeper is the daily batch compaction's job,
    // not the stream's)
    "q251_streaming_admission" -> (shinglesCte + """,
        |sigs AS (SELECT doc_id, source,
        |  COALESCE(list_min(list_transform(sh3,
        |    s -> substr(md5(s), 1, 8))), 'zzzzzzzz') AS mh0,
        |  COALESCE(list_min(list_transform(sh3,
        |    s -> substr(md5(s), 9, 8))), 'zzzzzzzz') AS mh1,
        |  COALESCE(list_min(list_transform(sh3,
        |    s -> substr(md5(s), 17, 8))), 'zzzzzzzz') AS mh2,
        |  COALESCE(list_min(list_transform(sh3,
        |    s -> substr(md5(s), 25, 8))), 'zzzzzzzz') AS mh3,
        |  list_distinct(sh3) AS shd FROM sh),
        |bnd AS (SELECT doc_id, source,
        |  md5(mh0 || '|' || mh1) AS b0, md5(mh2 || '|' || mh3) AS b1,
        |  shd FROM sigs),
        |near AS (SELECT DISTINCT dd.doc_id
        |  FROM bnd dd JOIN bnd e ON (dd.b0 = e.b0 OR dd.b1 = e.b1)
        |    AND dd.source NOT IN ('src0','src1','src2','src3','src4')
        |    AND e.source IN ('src1','src2','src3','src4')
        |  WHERE CAST(len(list_intersect(dd.shd, e.shd)) AS DOUBLE)
        |    / (len(dd.shd) + len(e.shd)
        |       - len(list_intersect(dd.shd, e.shd)))
        |    >= CAST(0.5 AS DOUBLE)),
        |bh AS (SELECT DISTINCT md5(text) AS h FROM documents
        |  WHERE source IN ('src1','src2','src3','src4')),
        |bg AS (SELECT DISTINCT unnest(sh3) AS g FROM sh
        |  WHERE source = 'src0'),
        |cg AS (SELECT DISTINCT doc_id, unnest(list_distinct(sh3)) AS g
        |  FROM sh
        |  WHERE source NOT IN ('src0','src1','src2','src3','src4')),
        |ct AS (SELECT cg.doc_id, COUNT(*) AS n FROM cg
        |  JOIN bg USING (g) GROUP BY 1)
        |SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
        |  (md5(t.text) IN (SELECT h FROM bh)) AS is_dup_exact,
        |  (near.doc_id IS NOT NULL) AS is_neardup,
        |  COALESCE(ct.n, 0) > 0 AS is_contaminated,
        |  (len(t.toks) >= 5
        |    AND md5(t.text) NOT IN (SELECT h FROM bh)
        |    AND near.doc_id IS NULL AND COALESCE(ct.n, 0) = 0)
        |    AS accepted
        |FROM t
        |LEFT JOIN near ON near.doc_id = t.doc_id
        |LEFT JOIN ct ON ct.doc_id = t.doc_id
        |WHERE t.source NOT IN ('src0','src1','src2','src3','src4')"""
      .stripMargin),

    // q252: q251's admission mirror aggregated per source — the funnel
    // counts are independent flags, n_accepted the conjunction
    "q252_admission_funnel" -> (shinglesCte + """,
        |sigs AS (SELECT doc_id, source,
        |  COALESCE(list_min(list_transform(sh3,
        |    s -> substr(md5(s), 1, 8))), 'zzzzzzzz') AS mh0,
        |  COALESCE(list_min(list_transform(sh3,
        |    s -> substr(md5(s), 9, 8))), 'zzzzzzzz') AS mh1,
        |  COALESCE(list_min(list_transform(sh3,
        |    s -> substr(md5(s), 17, 8))), 'zzzzzzzz') AS mh2,
        |  COALESCE(list_min(list_transform(sh3,
        |    s -> substr(md5(s), 25, 8))), 'zzzzzzzz') AS mh3,
        |  list_distinct(sh3) AS shd FROM sh),
        |bnd AS (SELECT doc_id, source,
        |  md5(mh0 || '|' || mh1) AS b0, md5(mh2 || '|' || mh3) AS b1,
        |  shd FROM sigs),
        |near AS (SELECT DISTINCT dd.doc_id
        |  FROM bnd dd JOIN bnd e ON (dd.b0 = e.b0 OR dd.b1 = e.b1)
        |    AND dd.source NOT IN ('src0','src1','src2','src3','src4')
        |    AND e.source IN ('src1','src2','src3','src4')
        |  WHERE CAST(len(list_intersect(dd.shd, e.shd)) AS DOUBLE)
        |    / (len(dd.shd) + len(e.shd)
        |       - len(list_intersect(dd.shd, e.shd)))
        |    >= CAST(0.5 AS DOUBLE)),
        |bh AS (SELECT DISTINCT md5(text) AS h FROM documents
        |  WHERE source IN ('src1','src2','src3','src4')),
        |bg AS (SELECT DISTINCT unnest(sh3) AS g FROM sh
        |  WHERE source = 'src0'),
        |cg AS (SELECT DISTINCT doc_id, unnest(list_distinct(sh3)) AS g
        |  FROM sh
        |  WHERE source NOT IN ('src0','src1','src2','src3','src4')),
        |ct AS (SELECT cg.doc_id, COUNT(*) AS n FROM cg
        |  JOIN bg USING (g) GROUP BY 1)
        |SELECT t.source, COUNT(*) AS n_docs,
        |  COUNT(CASE WHEN len(t.toks) < 5 THEN 1 END) AS n_quality_fail,
        |  COUNT(CASE WHEN md5(t.text) IN (SELECT h FROM bh) THEN 1 END)
        |    AS n_exact_dup,
        |  COUNT(CASE WHEN near.doc_id IS NOT NULL THEN 1 END)
        |    AS n_neardup,
        |  COUNT(CASE WHEN COALESCE(ct.n, 0) > 0 THEN 1 END)
        |    AS n_contaminated,
        |  COUNT(CASE WHEN len(t.toks) >= 5
        |    AND md5(t.text) NOT IN (SELECT h FROM bh)
        |    AND near.doc_id IS NULL AND COALESCE(ct.n, 0) = 0 THEN 1
        |    END) AS n_accepted
        |FROM t
        |LEFT JOIN near ON near.doc_id = t.doc_id
        |LEFT JOIN ct ON ct.doc_id = t.doc_id
        |WHERE t.source NOT IN ('src0','src1','src2','src3','src4')
        |GROUP BY 1""".stripMargin),

    // q249: the daily-ingest composition replayed stage by stage from
    // the shared CTEs — quality floor (q21 len(toks)), exact dedup vs
    // base src1-4 hashes + earlier-batch keepers (q81's keeper logic),
    // near-dup vs the src1-4 banded index at J >= 0.5 (q116's signature
    // mirror), decontamination vs src0's distinct shingles (q58/q235).
    // The hot-bucket guard has no mirror (no bucket nears the cap at
    // verify scale, the q116 precedent)
    "q249_daily_ingest" -> (shinglesCte + """,
        |sigs AS (SELECT doc_id, source,
        |  COALESCE(list_min(list_transform(sh3,
        |    s -> substr(md5(s), 1, 8))), 'zzzzzzzz') AS mh0,
        |  COALESCE(list_min(list_transform(sh3,
        |    s -> substr(md5(s), 9, 8))), 'zzzzzzzz') AS mh1,
        |  COALESCE(list_min(list_transform(sh3,
        |    s -> substr(md5(s), 17, 8))), 'zzzzzzzz') AS mh2,
        |  COALESCE(list_min(list_transform(sh3,
        |    s -> substr(md5(s), 25, 8))), 'zzzzzzzz') AS mh3,
        |  list_distinct(sh3) AS shd FROM sh),
        |bnd AS (SELECT doc_id, source,
        |  md5(mh0 || '|' || mh1) AS b0, md5(mh2 || '|' || mh3) AS b1,
        |  shd FROM sigs),
        |near AS (SELECT DISTINCT dd.doc_id
        |  FROM bnd dd JOIN bnd e ON (dd.b0 = e.b0 OR dd.b1 = e.b1)
        |    AND dd.source NOT IN ('src0','src1','src2','src3','src4')
        |    AND e.source IN ('src1','src2','src3','src4')
        |  WHERE CAST(len(list_intersect(dd.shd, e.shd)) AS DOUBLE)
        |    / (len(dd.shd) + len(e.shd)
        |       - len(list_intersect(dd.shd, e.shd)))
        |    >= CAST(0.5 AS DOUBLE)),
        |bh AS (SELECT DISTINCT md5(text) AS h FROM documents
        |  WHERE source IN ('src1','src2','src3','src4')),
        |dl AS (SELECT doc_id, md5(text) AS h FROM documents
        |  WHERE source NOT IN ('src0','src1','src2','src3','src4')),
        |k AS (SELECT h, MIN(doc_id) AS keep FROM dl
        |  WHERE h NOT IN (SELECT h FROM bh) GROUP BY 1),
        |bg AS (SELECT DISTINCT unnest(sh3) AS g FROM sh
        |  WHERE source = 'src0'),
        |cg AS (SELECT DISTINCT doc_id, unnest(list_distinct(sh3)) AS g
        |  FROM sh
        |  WHERE source NOT IN ('src0','src1','src2','src3','src4')),
        |ct AS (SELECT cg.doc_id, COUNT(*) AS n FROM cg
        |  JOIN bg USING (g) GROUP BY 1)
        |SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
        |  NOT COALESCE(k.keep = dl.doc_id, FALSE) AS is_dup_exact,
        |  (near.doc_id IS NOT NULL) AS is_neardup,
        |  COALESCE(ct.n, 0) > 0 AS is_contaminated,
        |  (len(t.toks) >= 5 AND COALESCE(k.keep = dl.doc_id, FALSE)
        |    AND near.doc_id IS NULL AND COALESCE(ct.n, 0) = 0)
        |    AS accepted
        |FROM t JOIN dl ON t.doc_id = dl.doc_id
        |LEFT JOIN k USING (h)
        |LEFT JOIN near ON near.doc_id = t.doc_id
        |LEFT JOIN ct ON ct.doc_id = t.doc_id""".stripMargin),

    // q253: the fleet APPLY's per-row outcomes are structural facts —
    // the hot minhash prepass executes (corpus supplied), both
    // fragmented indexes compact, the hot SemDeDup rebuild is skipped
    // (re-clustering is a modeling decision); executed families re-plan
    // quiet, the skipped one still demands its rebuild
    "q253_fleet_apply" ->
      """SELECT 'minhash' AS family, 'dedup_prepass' AS action,
        |  'executed' AS status, 'none' AS action_after
        |UNION ALL SELECT 'simhash', 'compact', 'executed', 'none'
        |UNION ALL SELECT 'semdedup', 'rebuild', 'skipped', 'rebuild'
        |UNION ALL SELECT 'exact', 'compact', 'executed', 'none'"""
        .stripMargin,

    // q254: the tombstone-DELETE lifecycle's 12 per-(family, phase)
    // outcomes are structural facts of the constructed states — before
    // the delete every family reports its planted duplicate/neighbor
    // (exact sees BOTH probe docs as dups, hence 2), the delete
    // silences the planted key immediately and books 1 pending
    // tombstone (planner: compact under tombstoneDebtCeiling=0), the
    // compaction folds the debt and the verdicts persist
    "q254_index_delete" ->
      """SELECT 'exact' AS family, '1_before' AS phase,
        |  CAST(2 AS BIGINT) AS n_hits,
        |  CAST(0 AS BIGINT) AS deleted_pending, 'none' AS action
        |UNION ALL SELECT 'exact', '2_deleted', 1, 1, 'compact'
        |UNION ALL SELECT 'exact', '3_compacted', 1, 0, 'none'
        |UNION ALL SELECT 'ivf', '1_before', 1, 0, 'none'
        |UNION ALL SELECT 'ivf', '2_deleted', 0, 1, 'compact'
        |UNION ALL SELECT 'ivf', '3_compacted', 0, 0, 'none'
        |UNION ALL SELECT 'minhash', '1_before', 1, 0, 'none'
        |UNION ALL SELECT 'minhash', '2_deleted', 0, 1, 'compact'
        |UNION ALL SELECT 'minhash', '3_compacted', 0, 0, 'none'
        |UNION ALL SELECT 'simhash', '1_before', 1, 0, 'none'
        |UNION ALL SELECT 'simhash', '2_deleted', 0, 1, 'compact'
        |UNION ALL SELECT 'simhash', '3_compacted', 0, 0, 'none'"""
        .stripMargin,

    // q255: the cross-family admission-crash reconcile — structural
    // facts of the constructed fleet: after the crash exactly one
    // (simhash, b2) gap exists and the SimHash probe cannot see the
    // b2 doc (0 hits); after the repair re-append the fleet is
    // consistent and the probe reports the previously-invisible
    // near-dup (1 hit)
    "q255_ingest_reconcile" ->
      """SELECT '1_after_crash' AS phase, CAST(1 AS BIGINT) AS n_gaps,
        |  'simhash:b2' AS gaps,
        |  CAST(0 AS BIGINT) AS simhash_probe_hits
        |UNION ALL SELECT '2_after_repair', 0, '', 1""".stripMargin,

    // q256: the funnel ops history + souring detector — structural
    // facts of the planted three-day fixture: s2's near-dup rate goes
    // 0 -> 0.5 -> 1.0 (each near-dup text extends the base doc by one
    // token: J = 4/5), trailing means (window 2) are 0 and 0.25, and
    // the detector fires on s2's day-2 jump-from-zero and day-3 rise
    // while s1 never alerts; day-1 rows have no trailing history
    "q256_funnel_history" ->
      """SELECT '2024-01-01' AS day, 's1' AS source,
        |  CAST(2 AS BIGINT) AS n_docs, CAST(0 AS BIGINT) AS n_neardup,
        |  CAST(0.0 AS DOUBLE) AS rate,
        |  CAST(NULL AS DOUBLE) AS trailing_rate, false AS souring
        |UNION ALL SELECT '2024-01-01', 's2', 2, 0, CAST(0.0 AS DOUBLE),
        |  CAST(NULL AS DOUBLE), false
        |UNION ALL SELECT '2024-01-02', 's1', 2, 0, CAST(0.0 AS DOUBLE),
        |  CAST(0.0 AS DOUBLE), false
        |UNION ALL SELECT '2024-01-02', 's2', 2, 1, CAST(0.5 AS DOUBLE),
        |  CAST(0.0 AS DOUBLE), true
        |UNION ALL SELECT '2024-01-03', 's1', 2, 0, CAST(0.0 AS DOUBLE),
        |  CAST(0.0 AS DOUBLE), false
        |UNION ALL SELECT '2024-01-03', 's2', 2, 2, CAST(1.0 AS DOUBLE),
        |  CAST(0.25 AS DOUBLE), true""".stripMargin,

    // q257: the closed daily-ingest loop — day-1's admission replays
    // exactly like q251 (order-independent kernel vs the base state),
    // its accepted docs EXTEND the hash set (bh2) and the banded index
    // (the e side of near2 ranges over base sources OR day-1
    // acceptances), and day-2's verdicts are computed against the
    // extended state. Day split is doc_id parity over the batch
    // sources
    "q257_ingest_append_loop" -> (shinglesCte + """,
        |sigs AS (SELECT doc_id, source,
        |  COALESCE(list_min(list_transform(sh3,
        |    s -> substr(md5(s), 1, 8))), 'zzzzzzzz') AS mh0,
        |  COALESCE(list_min(list_transform(sh3,
        |    s -> substr(md5(s), 9, 8))), 'zzzzzzzz') AS mh1,
        |  COALESCE(list_min(list_transform(sh3,
        |    s -> substr(md5(s), 17, 8))), 'zzzzzzzz') AS mh2,
        |  COALESCE(list_min(list_transform(sh3,
        |    s -> substr(md5(s), 25, 8))), 'zzzzzzzz') AS mh3,
        |  list_distinct(sh3) AS shd FROM sh),
        |bnd AS (SELECT doc_id, source,
        |  md5(mh0 || '|' || mh1) AS b0, md5(mh2 || '|' || mh3) AS b1,
        |  shd FROM sigs),
        |bh AS (SELECT DISTINCT md5(text) AS h FROM documents
        |  WHERE source IN ('src1','src2','src3','src4')),
        |bg AS (SELECT DISTINCT unnest(sh3) AS g FROM sh
        |  WHERE source = 'src0'),
        |cg AS (SELECT DISTINCT doc_id, unnest(list_distinct(sh3)) AS g
        |  FROM sh
        |  WHERE source NOT IN ('src0','src1','src2','src3','src4')),
        |ct AS (SELECT cg.doc_id, COUNT(*) AS n FROM cg
        |  JOIN bg USING (g) GROUP BY 1),
        |near1 AS (SELECT DISTINCT dd.doc_id
        |  FROM bnd dd JOIN bnd e ON (dd.b0 = e.b0 OR dd.b1 = e.b1)
        |    AND dd.source NOT IN ('src0','src1','src2','src3','src4')
        |    AND dd.doc_id % 2 = 0
        |    AND e.source IN ('src1','src2','src3','src4')
        |  WHERE CAST(len(list_intersect(dd.shd, e.shd)) AS DOUBLE)
        |    / (len(dd.shd) + len(e.shd)
        |       - len(list_intersect(dd.shd, e.shd)))
        |    >= CAST(0.5 AS DOUBLE)),
        |acc1 AS (SELECT t.doc_id FROM t
        |  LEFT JOIN near1 ON near1.doc_id = t.doc_id
        |  LEFT JOIN ct ON ct.doc_id = t.doc_id
        |  WHERE t.source NOT IN ('src0','src1','src2','src3','src4')
        |    AND t.doc_id % 2 = 0
        |    AND len(t.toks) >= 5
        |    AND md5(t.text) NOT IN (SELECT h FROM bh)
        |    AND near1.doc_id IS NULL AND COALESCE(ct.n, 0) = 0),
        |bh2 AS (SELECT h FROM bh
        |  UNION SELECT DISTINCT md5(text) FROM documents
        |  JOIN acc1 USING (doc_id)),
        |near2 AS (SELECT DISTINCT dd.doc_id
        |  FROM bnd dd JOIN bnd e ON (dd.b0 = e.b0 OR dd.b1 = e.b1)
        |    AND dd.source NOT IN ('src0','src1','src2','src3','src4')
        |    AND dd.doc_id % 2 = 1
        |    AND (e.source IN ('src1','src2','src3','src4')
        |      OR e.doc_id IN (SELECT doc_id FROM acc1))
        |  WHERE CAST(len(list_intersect(dd.shd, e.shd)) AS DOUBLE)
        |    / (len(dd.shd) + len(e.shd)
        |       - len(list_intersect(dd.shd, e.shd)))
        |    >= CAST(0.5 AS DOUBLE))
        |SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
        |  (md5(t.text) IN (SELECT h FROM bh2)) AS is_dup_exact,
        |  (near2.doc_id IS NOT NULL) AS is_neardup,
        |  COALESCE(ct.n, 0) > 0 AS is_contaminated,
        |  (len(t.toks) >= 5
        |    AND md5(t.text) NOT IN (SELECT h FROM bh2)
        |    AND near2.doc_id IS NULL AND COALESCE(ct.n, 0) = 0)
        |    AS accepted
        |FROM t
        |LEFT JOIN near2 ON near2.doc_id = t.doc_id
        |LEFT JOIN ct ON ct.doc_id = t.doc_id
        |WHERE t.source NOT IN ('src0','src1','src2','src3','src4')
        |  AND t.doc_id % 2 = 1""".stripMargin),

    // q258: the corpus-refresh retraction composition — structural
    // facts of the planted fleet: the diff finds exactly 1 removed
    // doc, every doc-keyed family executes its tombstone delete and
    // its probe hit (1 before) goes silent (0 after), while the
    // shingle-keyed decontam family is skipped and its probe still
    // fires (1 -> 1), pinning that the skip is real
    "q258_fleet_delete" ->
      """SELECT 'decontam' AS family, 'skipped' AS status,
        |  CAST(1 AS BIGINT) AS n_removed,
        |  CAST(1 AS BIGINT) AS hits_before,
        |  CAST(1 AS BIGINT) AS hits_after
        |UNION ALL SELECT 'exact', 'executed', 1, 1, 0
        |UNION ALL SELECT 'ivf', 'executed', 1, 1, 0
        |UNION ALL SELECT 'minhash', 'executed', 1, 1, 0
        |UNION ALL SELECT 'simhash', 'executed', 1, 1, 0"""
        .stripMargin,

    // q259: the seven-family erase-audit lifecycle — structural facts
    // of the planted fleet. Before: every family physically carries
    // the doomed key (1 row; 2 for minhash's bands=2 banding; 6 for
    // decontam = the doomed doc's distinct 3-gram shingles), nothing
    // pending, nothing complete. After fleetDelete: the doc-keyed
    // families are tombstoned (disk still carries the rows — the
    // audit must say INCOMPLETE) while decontam's rebuild retraction
    // removes its retiree-unique keys IMMEDIATELY; ONE doomed shingle
    // ("with five dozen") is shared with remaining doc 3, so it stays
    // physically live — and the audit, given the remaining suites,
    // computes expected_residue = 1 and reports complete=true WITH
    // the residue explained (the decidability the r15 audit punted).
    // After each family's fold: doc-keyed families read (0, 0, 0,
    // true); decontam keeps its explained residue row
    "q259_fleet_erase_audit" ->
      """SELECT 'decontam' AS family, '1_before' AS phase,
        |  '' AS delete_status, CAST(6 AS BIGINT) AS keys_live,
        |  CAST(1 AS BIGINT) AS expected_residue,
        |  CAST(0 AS BIGINT) AS deleted_pending, false AS complete
        |UNION ALL SELECT 'decontam', '2_deleted', 'executed', 1, 1, 0, true
        |UNION ALL SELECT 'decontam', '3_folded', 'executed', 1, 1, 0, true
        |UNION ALL SELECT 'exact', '1_before', '', 1, 0, 0, false
        |UNION ALL SELECT 'exact', '2_deleted', 'executed', 1, 0, 1, false
        |UNION ALL SELECT 'exact', '3_folded', 'executed', 0, 0, 0, true
        |UNION ALL SELECT 'ivf', '1_before', '', 1, 0, 0, false
        |UNION ALL SELECT 'ivf', '2_deleted', 'executed', 1, 0, 1, false
        |UNION ALL SELECT 'ivf', '3_folded', 'executed', 0, 0, 0, true
        |UNION ALL SELECT 'ivf_pq', '1_before', '', 1, 0, 0, false
        |UNION ALL SELECT 'ivf_pq', '2_deleted', 'executed', 1, 0, 1, false
        |UNION ALL SELECT 'ivf_pq', '3_folded', 'executed', 0, 0, 0, true
        |UNION ALL SELECT 'minhash', '1_before', '', 2, 0, 0, false
        |UNION ALL SELECT 'minhash', '2_deleted', 'executed', 2, 0, 1, false
        |UNION ALL SELECT 'minhash', '3_folded', 'executed', 0, 0, 0, true
        |UNION ALL SELECT 'semdedup', '1_before', '', 1, 0, 0, false
        |UNION ALL SELECT 'semdedup', '2_deleted', 'executed', 1, 0, 1, false
        |UNION ALL SELECT 'semdedup', '3_folded', 'executed', 0, 0, 0, true
        |UNION ALL SELECT 'simhash', '1_before', '', 1, 0, 0, false
        |UNION ALL SELECT 'simhash', '2_deleted', 'executed', 1, 0, 1, false
        |UNION ALL SELECT 'simhash', '3_folded', 'executed', 0, 0, 0, true"""
        .stripMargin,

    // q261: the one-call fleet loop — structural facts of the planted
    // states: the exact index's pending tombstone and the SimHash/
    // funnel fragment debts plan `compact` (funnel via its new apply
    // dispatch), the fresh SemDeDup/decontam states plan `none`,
    // applying executes exactly the three compactions, and the
    // re-plan is quiet everywhere
    "q261_fleet_loop" ->
      """SELECT 'decontam' AS family, 'none' AS action,
        |  'skipped' AS status, 'none' AS action_after
        |UNION ALL SELECT 'exact', 'compact', 'executed', 'none'
        |UNION ALL SELECT 'funnel', 'compact', 'executed', 'none'
        |UNION ALL SELECT 'semdedup', 'none', 'skipped', 'none'
        |UNION ALL SELECT 'simhash', 'compact', 'executed', 'none'"""
        .stripMargin,

    // q260: the unified seven-family admission — structural facts of
    // the planted batch, one rejection mode per doc: 11 clean
    // (accepted), 12 a token-REORDERED copy of an indexed doc (md5
    // differs, 3-gram Jaccard 0 — only the unigram SimHash catches it
    // at Hamming 0), 13 an embedding near-dup with unique text
    // (cosine ≈ 0.994 ≥ 0.95 — only the SemDeDup state catches it),
    // 14 an exact copy (exact + minhash J=1 + simhash all fire), 15
    // shares the benchmark suite's 3-grams (decontam only)
    "q260_fleet_admission" ->
      """SELECT CAST(11 AS BIGINT) AS id, CAST(7 AS BIGINT) AS n_tokens,
        |  false AS is_dup_exact, false AS is_neardup,
        |  false AS is_contaminated, false AS is_neardup_sim,
        |  false AS is_neardup_sem, true AS accepted
        |UNION ALL SELECT 12, 8, false, false, false, true, false, false
        |UNION ALL SELECT 13, 7, false, false, false, false, true, false
        |UNION ALL SELECT 14, 8, true, true, false, true, false, false
        |UNION ALL SELECT 15, 9, false, false, true, false, false, false"""
        .stripMargin,

    // q262: the streaming unified admission — q260's one-shot verdict
    // constants, replayed under two trigger cadences (1 file and 3
    // files per micro-batch): every verdict depends only on its own
    // row and the index FILES, so the accumulated sink is identical
    // under both slicings
    "q262_streaming_unified_admission" -> {
      val oneShot =
        """SELECT CAST(11 AS BIGINT) AS id, CAST(7 AS BIGINT) AS n_tokens,
          |  false AS is_dup_exact, false AS is_neardup,
          |  false AS is_contaminated, false AS is_neardup_sim,
          |  false AS is_neardup_sem, true AS accepted,
          |  CAST(%d AS BIGINT) AS cadence
          |UNION ALL SELECT 12, 8, false, false, false, true, false,
          |  false, %d
          |UNION ALL SELECT 13, 7, false, false, false, false, true,
          |  false, %d
          |UNION ALL SELECT 14, 8, true, true, false, true, false,
          |  false, %d
          |UNION ALL SELECT 15, 9, false, false, true, false, false,
          |  false, %d""".stripMargin
      def at(c: Int) = oneShot.replace("%d", c.toString)
      at(1) + "\nUNION ALL\n" + at(3)
    },

    // q263: the runbook lifecycle — structural facts of the planted
    // states: the k=1 SemDeDup state's one hot cluster plans rebuild,
    // the fragmented PQ index's compact is escalated to rebuild, BOTH
    // execute from the persisted runbook alone (corpora empty), and
    // the re-plan is quiet (three balanced clusters of two; one fresh
    // file per list)
    "q263_fleet_runbook" ->
      """SELECT 'ivf_pq' AS family, 'rebuild' AS action,
        |  'executed' AS status, 'none' AS action_after
        |UNION ALL SELECT 'semdedup', 'rebuild', 'executed', 'none'"""
        .stripMargin,

    // q264: the budgeted deep-probe loop — structural facts of the
    // constructed geometry: sweep 1 spends its one probe on the
    // decayed index A (recall 8/12 < 0.8 → rebuild; healthy B reads
    // light → none), the apply executes the refit, sweep 2 rotates to
    // B (recall 1 → none), sweep 3 rotates back to A and measures the
    // recovery (recall 1 → none). The probe log pins the budget: A
    // probed twice, B once
    "q264_fleet_deep_probe" ->
      """SELECT '1_sweep' AS step, 'A' AS tag, true AS deep_probed,
        |  'rebuild' AS outcome
        |UNION ALL SELECT '1_sweep', 'B', false, 'none'
        |UNION ALL SELECT '2_apply', 'A', false, 'executed'
        |UNION ALL SELECT '3_sweep', 'A', false, 'none'
        |UNION ALL SELECT '3_sweep', 'B', true, 'none'
        |UNION ALL SELECT '4_sweep', 'A', true, 'none'
        |UNION ALL SELECT '4_sweep', 'B', false, 'none'
        |UNION ALL SELECT '5_probelog', 'A', false, '2'
        |UNION ALL SELECT '5_probelog', 'B', false, '1'"""
        .stripMargin,

    // q265: the unattended fleet ops loop — structural facts of the
    // constructed fleet: sweep 1's single runbook-sampled deep probe
    // reads the decayed IVF member A at recall 94/168 < 0.8 → rebuild,
    // the frozen-at-k=1 SemDeDup member B trips the hot-cluster rule →
    // rebuild, the six-fragment exact member C trips the fragment
    // ceiling → compact; the apply executes all three from the runbook
    // alone; sweep 2 reads none everywhere and the probe log carries
    // exactly one probe per sweep, both on A (the only vector member)
    "q265_fleet_ops_loop" ->
      """SELECT '1_plan' AS step, 'A' AS tag, true AS deep_probed,
        |  'rebuild' AS outcome
        |UNION ALL SELECT '1_plan', 'B', false, 'rebuild'
        |UNION ALL SELECT '1_plan', 'C', false, 'compact'
        |UNION ALL SELECT '2_apply', 'A', false, 'executed'
        |UNION ALL SELECT '2_apply', 'B', false, 'executed'
        |UNION ALL SELECT '2_apply', 'C', false, 'executed'
        |UNION ALL SELECT '3_plan', 'A', true, 'none'
        |UNION ALL SELECT '3_plan', 'B', false, 'none'
        |UNION ALL SELECT '3_plan', 'C', false, 'none'
        |UNION ALL SELECT '4_probelog', 'A', false, '2'"""
        .stripMargin,

    // q266: the fleet backup/restore lifecycle — structural facts: all
    // three families back up (executed), each backup answers like its
    // source (true), a post-backup source append is visible at the
    // source but not at the backup (true/false — the snapshot proof),
    // and a restore of the backup answers like the original (true)
    "q266_fleet_backup_restore" ->
      """SELECT '1_backup' AS step, 'exact' AS family,
        |  'executed' AS outcome
        |UNION ALL SELECT '1_backup', 'ivf', 'executed'
        |UNION ALL SELECT '1_backup', 'minhash', 'executed'
        |UNION ALL SELECT '2_verify', 'exact', 'true'
        |UNION ALL SELECT '2_verify', 'ivf', 'true'
        |UNION ALL SELECT '3_drift', 'src', 'true'
        |UNION ALL SELECT '3_drift', 'backup', 'false'
        |UNION ALL SELECT '4_restore', 'exact', 'true'"""
        .stripMargin,

    // q248: the PQ drift probe's controlled fixture — m=4/nCodes=4 make
    // every 2-dim subvector slice exactly representable, so the base
    // reconstruction is exact and every value is the q244 constant
    "q248_ivfpq_drift" ->
      """SELECT 'healthy' AS which, CAST(1.0 AS DOUBLE) AS base_mean_sim,
        |  CAST(1.0 AS DOUBLE) AS batch_mean_sim,
        |  CAST(1.0 AS DOUBLE) AS drift_ratio, 'none' AS action
        |UNION ALL
        |SELECT 'drifted', CAST(1.0 AS DOUBLE), CAST(0.0 AS DOUBLE),
        |  CAST(0.0 AS DOUBLE), 'rebuild'""".stripMargin,

    // q241: the bayesian trial ladder's integer-safe structural facts —
    // 4 trials ran, every lambda stayed in the declared box, and the
    // selected trial is <= the worst and <= every trial (selectBest's
    // contract; metric VALUES are float-fragile so they stay out)
    "q241_tuning_bayesian" ->
      """SELECT CAST(4 AS BIGINT) AS n_trials, true AS lambdas_in_box,
        |  true AS selected_le_worst, true AS selected_le_all"""
        .stripMargin,

    // BPE encoding under q222's fixed merge list: each word becomes a
    // chr(31)-double-separated symbol string and the merges replay as
    // chained replaces (`␟a␟␟b␟` -> `␟ab␟`), which reproduces the
    // greedy leftmost non-overlapping walk exactly
    "q222_bpe_encode" -> bpeEncodeSql,

    // the persisted IVF-PQ index (codes-not-vectors on disk) probing
    // all lists with refine over every candidate: exhaustive-exact
    "q213_knn_ivfpq_index" -> exactKnnSql,

    // index-health report's deterministic fields: list count is the
    // quantizer's k (8 by construction — the local Lloyd fit always
    // returns k centers), total rows is the indexed corpus, and probe-all recall
    // is exactly 1.0 (deterministic ties on both sides)
    "q220_index_health" ->
      """SELECT CAST(8 AS INTEGER) AS n_lists,
        |  count(*) AS total_rows,
        |  CAST(1.0 AS DOUBLE) AS recall_at_k
        |FROM embeddings WHERE vec_id >= 5""".stripMargin,

    // DSIR importance weights: hashed-bigram bucket = conv(md5-hex8)
    // mod 256 (hex8 helper), per-bucket Laplace-smoothed log-ratio
    // rounded at 9 dp into exact decimals, per-doc decimal sum rounded
    // at 6 dp, top-100 by (weight desc, doc_id)
    "q212_dsir_select" -> (toksCte + s""",
        |bk AS (
        |  SELECT doc_id, lang = 'en' AS tt,
        |    ${hex8("bg")} % 256 AS b
        |  FROM (
        |    SELECT doc_id, lang,
        |      unnest(list_transform(range(1, len(toks)),
        |        i -> toks[i] || ' ' || toks[i+1])) AS bg
        |    FROM t)),
        |counts AS (
        |  SELECT b, SUM(CASE WHEN tt THEN 1 ELSE 0 END) AS ct,
        |    COUNT(*) AS ca
        |  FROM bk GROUP BY b),
        |tot AS (SELECT SUM(ct) AS nt, SUM(ca) AS na FROM counts),
        |lr AS (
        |  SELECT b, CAST(ROUND(LN(((ct + 1.0) / (nt + 256.0)) /
        |      ((ca + 1.0) / (na + 256.0))), 9) AS DECIMAL(18,9)) AS lr
        |  FROM counts, tot),
        |scored AS (
        |  SELECT doc_id, COUNT(*) AS n_bigrams,
        |    ROUND(CAST(SUM(lr) AS DOUBLE) + 1e-9, 6) AS dsir_weight
        |  FROM bk JOIN lr USING (b) GROUP BY doc_id)
        |SELECT d.doc_id, COALESCE(s.n_bigrams, 0) AS n_bigrams,
        |  COALESCE(s.dsir_weight, 0.0) AS dsir_weight
        |FROM documents d LEFT JOIN scored s USING (doc_id)
        |ORDER BY dsir_weight DESC, d.doc_id LIMIT 100""".stripMargin),

    // IVF-PQ probing ALL lists with refine over every candidate: the
    // lossy codes only order candidates, the exact rescoring decides —
    // must equal brute force regardless of what the quantizers learned
    "q68o_knn_ivfpq_full" -> exactKnnSql,

    "q30_sessionize" ->
      """WITH x AS (
        |  SELECT user_id, ts,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events)
        |SELECT user_id,
        |  CAST(SUM(CASE WHEN prev_ts IS NULL
        |    OR ts > prev_ts + INTERVAL '30 minutes' THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
        |  COUNT(*) AS n_events
        |FROM x GROUP BY user_id""".stripMargin,

    // q93: symmetric int8 quantization mirrored element for element;
    // float32→double casts are exact in both engines, the expression
    // shape (x*127/mx) matches the Spark side so the doubles agree
    // bitwise, and both engines round ties away from zero. Integer sum
    // cast to BIGINT (HUGEINT hazard).
    "q93_embedding_quantize" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |m AS (SELECT vec_id, v,
        |    list_max(list_transform(v, x -> abs(x))) AS mx FROM e),
        |c AS (SELECT vec_id, mx,
        |    CASE WHEN mx = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
        |    ELSE list_transform(v, x -> CAST(round(x * 127.0 / mx) AS BIGINT))
        |    END AS codes FROM m)
        |SELECT vec_id, len(codes) AS n_dims,
        |  CAST(list_sum(codes) AS BIGINT) AS code_sum,
        |  md5(array_to_string(list_transform(codes,
        |    x -> CAST(x AS VARCHAR)), ',')) AS code_hash,
        |  ROUND(mx / 127.0 + 1e-9, 6) AS scale
        |FROM c""".stripMargin,

    // q92: streaming sessionization must converge to the batch answer.
    // Gap compares at epoch_ms (the operator compares getTime values);
    // the raw timestamps carry microseconds, so a full-precision
    // interval compare could split differently within 1 ms of the gap
    "q92_streaming_sessions" ->
      """WITH x AS (
        |  SELECT user_id, epoch_ms(ts) AS tms,
        |    lag(epoch_ms(ts)) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev_tms
        |  FROM events)
        |SELECT user_id,
        |  CAST(SUM(CASE WHEN prev_tms IS NULL
        |    OR tms > prev_tms + 1800000 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_sessions,
        |  COUNT(*) AS n_events
        |FROM x GROUP BY user_id""".stripMargin,

    // q94: CDC snapshot as its declarative definition — the latest
    // change per user wins (row_number over (ts DESC, event_id DESC)),
    // a key whose latest change is the delete op ('error') is dropped.
    // The engine's single max(struct) aggregate must agree exactly.
    // COUNT windows/aggregates are BIGINT in both engines (no HUGEINT
    // hazard); ts and value pass through unchanged.
    "q94_cdc_upsert" ->
      """WITH r AS (SELECT user_id, ts, event_id, event_type, value,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn,
        |    COUNT(*) OVER (PARTITION BY user_id) AS n_changes
        |  FROM events)
        |SELECT user_id, n_changes, ts AS last_ts,
        |  event_id AS last_event_id, event_type AS last_type,
        |  value AS last_value
        |FROM r WHERE rn = 1 AND event_type <> 'error'""".stripMargin,

    // q95: BM25 with Lucene's always-positive idf. Per-term scores are
    // rounded to 9dp and summed as exact decimals (the q62 convention)
    // so term order can't perturb the 6dp result; dl sums are integer
    // counts in doubles (exact), so avgdl agrees bitwise
    "q95_bm25" -> (toksCte + """,
      |dl AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl FROM t),
      |corpus AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
      |tok AS (SELECT doc_id, unnest(toks) AS term FROM t),
      |hits AS (SELECT doc_id, term FROM tok
      |  WHERE term IN ('spark', 'window', 'hash')),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM hits GROUP BY 1, 2),
      |idf AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM hits
      |  GROUP BY 1),
      |sc AS (SELECT doc_id, CAST(round(
      |    ln(1 + (n - df + 0.5) / (df + 0.5)) * (tf * 2.2) /
      |      (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)), 9)
      |    AS DECIMAL(18,9)) AS s
      |  FROM tf JOIN idf USING (term) JOIN dl USING (doc_id), corpus)
      |SELECT doc_id, COUNT(*) AS n_terms,
      |  round(CAST(SUM(s) AS DOUBLE) + 1e-9, 6) AS bm25
      |FROM sc GROUP BY 1""".stripMargin),

    // q96: trailing-hour rolling features; the RANGE frame runs over
    // epoch MICROseconds on both sides (same peer groups), the rolling
    // sum is an exact DECIMAL(18,2) cast back to double (the q64
    // convention), lag is ordered by the total (ts, event_id)
    "q96_trailing_hour" ->
      """SELECT event_id,
        |  COUNT(*) OVER w AS n_window,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
        |    AS sum_window,
        |  lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |    AS prev_value
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""".stripMargin,

    // q97: whole-table exact ECDF — cnt_le is the integer-exact surface
    // (RANGE frame counts all peers), the ratio is rounded at 6dp on
    // both sides. The engine must reproduce this WITHOUT the global
    // single-task window this statement declares.
    "q97_value_ecdf" ->
      """WITH w AS (SELECT event_id, value,
        |    COUNT(*) OVER (ORDER BY value
        |      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS cnt_le,
        |    COUNT(*) OVER () AS n
        |  FROM events WHERE value IS NOT NULL)
        |SELECT event_id, cnt_le,
        |  round(CAST(cnt_le AS DOUBLE) / n + 1e-9, 6) AS ecdf
        |FROM w""".stripMargin,

    // q99: 5-fold CV ridge — per-fold Cramer on the 3×3 normal
    // equations (the q54 algebra restricted to fold<>f), then held-out
    // RMSE predicted from the SAME 6dp-rounded coefficients the engine
    // scores with: both sides evaluate ((w1*x1 + w2*x2) + b) on
    // identical doubles, per-row squared errors round at 9dp into an
    // exact decimal sum, so fold order and parallelism can't perturb
    // the 6dp result
    "q99_kfold_cv" -> {
      val folds = (0 until 5).map { f =>
        s"""m$f AS (
           |  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
           |    SUM(x1) AS sx1, SUM(x2) AS sx2, SUM(y) AS sy,
           |    SUM(x1*x1) + 0.1 AS s11, SUM(x1*x2) AS s12,
           |    SUM(x2*x2) + 0.1 AS s22, SUM(x1*y) AS s1y, SUM(x2*y) AS s2y,
           |    COUNT(*) AS n_train
           |  FROM pts WHERE fold <> $f),
           |d$f AS (
           |  SELECT *, s11*(s22*n - sx2*sx2) - s12*(s12*n - sx2*sx1)
           |      + sx1*(s12*sx2 - s22*sx1) AS det
           |  FROM m$f),
           |c$f AS (
           |  SELECT n_train,
           |    ROUND((s1y*(s22*n - sx2*sx2) - s12*(s2y*n - sx2*sy)
           |      + sx1*(s2y*sx2 - s22*sy)) / det + 1e-9, 6) AS w1,
           |    ROUND((s11*(s2y*n - sx2*sy) - s1y*(s12*n - sx2*sx1)
           |      + sx1*(s12*sy - s2y*sx1)) / det + 1e-9, 6) AS w2,
           |    ROUND((s11*(s22*sy - s2y*sx2) - s12*(s12*sy - s2y*sx1)
           |      + s1y*(s12*sx2 - s22*sx1)) / det + 1e-9, 6) AS b
           |  FROM d$f),
           |e$f AS (
           |  SELECT n_train, w1, w2, b,
           |    (y - ((w1*x1 + w2*x2) + b)) AS err
           |  FROM pts, c$f WHERE fold = $f),
           |r$f AS (
           |  SELECT $f AS fold, n_train, COUNT(*) AS n_test,
           |    w1, w2, b AS intercept,
           |    ROUND(sqrt(CAST(SUM(CAST(round(err*err, 9)
           |        AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*)) + 1e-9, 6)
           |      AS rmse
           |  FROM e$f GROUP BY n_train, w1, w2, b)""".stripMargin
      }.mkString(",\n")
      val unions = (0 until 5)
        .map(f => s"SELECT * FROM r$f").mkString("\nUNION ALL ")
      s"""WITH pts AS (
         |  SELECT CAST(vec_id % 5 AS INTEGER) AS fold,
         |    CAST(embedding[1] AS DOUBLE) AS x1,
         |    CAST(embedding[2] AS DOUBLE) AS x2,
         |    CAST(label AS DOUBLE) AS y
         |  FROM embeddings),
         |$folds
         |$unions""".stripMargin
    },

    // q110: vocabulary build — full deterministic order (cnt desc,
    // token asc) before both the id assignment and the top-k cut, so
    // ties at the boundary resolve identically in both engines
    "q110_vocab_build" -> (toksCte + """,
        |c AS (SELECT token, COUNT(*) AS cnt FROM (
        |    SELECT unnest(toks) AS token FROM t) GROUP BY token),
        |r AS (SELECT token, cnt,
        |    row_number() OVER (ORDER BY cnt DESC, token ASC) AS id FROM c)
        |SELECT CAST(id AS INTEGER) AS id, token, CAST(cnt AS BIGINT) AS cnt
        |FROM r WHERE id <= 20""".stripMargin),

    // q111: heavy hitters — the oracle is the exact definition (count >
    // 1% of total tokens); the engine's Misra-Gries candidate phase is
    // an internal pruning that provably cannot change this answer. The
    // 0.01 literal is CAST to DOUBLE so DuckDB doesn't evaluate the
    // threshold in exact DECIMAL arithmetic
    "q111_heavy_hitters" -> (toksCte + """,
        |tok AS (SELECT unnest(toks) AS token FROM t),
        |n AS (SELECT COUNT(*) AS total FROM tok)
        |SELECT token, COUNT(*) AS cnt FROM tok, n GROUP BY token, total
        |HAVING CAST(COUNT(*) AS DOUBLE) >
        |  CAST(0.01 AS DOUBLE) * CAST(total AS DOUBLE)""".stripMargin),

    // q112: OLS trend slope from order-independent sums — x exact in
    // BIGINT, y/xy exact in DECIMAL(18,6) (the q16 value convention);
    // SUM over integers is CAST back to BIGINT before any arithmetic
    // (DuckDB would return HUGEINT) and every operand is CAST to DOUBLE
    // so the closed-form division is the identical IEEE expression the
    // engine evaluates
    "q112_trend_slope" ->
      """WITH e AS (SELECT event_type,
        |    datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS x,
        |    CAST(value AS DECIMAL(18,6)) AS y
        |  FROM events WHERE value IS NOT NULL),
        |g AS (SELECT event_type, COUNT(*) AS n,
        |    CAST(SUM(x) AS BIGINT) AS sx,
        |    CAST(SUM(x * x) AS BIGINT) AS sxx,
        |    SUM(y) AS sy,
        |    SUM(CAST(x AS DECIMAL(12,0)) * y) AS sxy
        |  FROM e GROUP BY event_type)
        |SELECT event_type, n,
        |  ROUND(CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE) = 0 THEN 0.0
        |    ELSE (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |      / CAST(n * sxx - sx * sx AS DOUBLE) END + 1e-9, 6) AS slope
        |FROM g""".stripMargin,

    // q113: temperature-0.5 mixture sampling. Weights ROUND(pow,9) →
    // DECIMAL(18,9) so the normalizing sum is order-independent; the
    // weight total is re-CAST to DECIMAL(18,9) and base to DECIMAL(10,0)
    // so the remainder product stays under both engines' 38-digit cap
    // (past it they re-round differently); Hamilton remainders compare
    // as exact decimals; the per-source draw is md5-ordered (doc_id
    // tiebreak), mirroring Mixture.sampleByQuota
    "q113_mixture_sample" ->
      """WITH m AS (SELECT source, CAST(SUM(n_chars) AS BIGINT) AS mass
        |  FROM documents GROUP BY source),
        |w AS (SELECT source, CAST(ROUND(POW(CAST(mass AS DOUBLE),
        |    CAST(0.5 AS DOUBLE)), 9) AS DECIMAL(18,9)) AS wt FROM m),
        |t AS (SELECT CAST(SUM(wt) AS DECIMAL(18,9)) AS tw FROM w),
        |b AS (SELECT source, wt * 200 AS kw,
        |    CAST(floor(CAST(wt * 200 AS DOUBLE) / CAST(tw AS DOUBLE))
        |      AS BIGINT) AS base, tw FROM w, t),
        |b2 AS (SELECT source, base,
        |    kw - tw * CAST(base AS DECIMAL(10,0)) AS rem FROM b),
        |l AS (SELECT 200 - CAST(SUM(base) AS BIGINT) AS leftover FROM b2),
        |q AS (SELECT source, base + CASE WHEN row_number() OVER
        |      (ORDER BY rem DESC, source ASC) <= leftover
        |    THEN 1 ELSE 0 END AS quota FROM b2, l),
        |r AS (SELECT doc_id, source, row_number() OVER (PARTITION BY source
        |    ORDER BY md5('mix_' || CAST(doc_id AS VARCHAR)) ASC,
        |      doc_id ASC) AS rn
        |  FROM documents)
        |SELECT r.doc_id, r.source FROM r JOIN q USING (source)
        |WHERE rn <= quota""".stripMargin,

    // q114: each rule is a scalar mirrored from Checks' conditional
    // sums; NULL handling matches exactly (COALESCE(NOT pred, TRUE) —
    // a NULL value violates a range/set rule; a NULL key violates the
    // FK via NOT EXISTS, which is what an anti join does). Range/set
    // literals CAST to DOUBLE where the engine compares doubles
    "q114_quality_checks" ->
      """WITH n AS (SELECT COUNT(*) AS n_rows FROM lineitem)
        |SELECT 'not_null_l_orderkey' AS rule, n_rows,
        |  CAST((SELECT SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END)
        |    FROM lineitem) AS BIGINT) AS n_violations,
        |  CAST((SELECT SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END)
        |    FROM lineitem) AS BIGINT) = 0 AS passed FROM n
        |UNION ALL
        |SELECT 'range_l_quantity', n_rows,
        |  CAST((SELECT SUM(CASE WHEN COALESCE(NOT(
        |      l_quantity >= CAST(1.0 AS DOUBLE)
        |      AND l_quantity <= CAST(50.0 AS DOUBLE)), TRUE)
        |    THEN 1 ELSE 0 END) FROM lineitem) AS BIGINT),
        |  CAST((SELECT SUM(CASE WHEN COALESCE(NOT(
        |      l_quantity >= CAST(1.0 AS DOUBLE)
        |      AND l_quantity <= CAST(50.0 AS DOUBLE)), TRUE)
        |    THEN 1 ELSE 0 END) FROM lineitem) AS BIGINT) = 0 FROM n
        |UNION ALL
        |SELECT 'range_l_discount', n_rows,
        |  CAST((SELECT SUM(CASE WHEN COALESCE(NOT(
        |      l_discount >= CAST(0.0 AS DOUBLE)
        |      AND l_discount <= CAST(0.1 AS DOUBLE)), TRUE)
        |    THEN 1 ELSE 0 END) FROM lineitem) AS BIGINT),
        |  CAST((SELECT SUM(CASE WHEN COALESCE(NOT(
        |      l_discount >= CAST(0.0 AS DOUBLE)
        |      AND l_discount <= CAST(0.1 AS DOUBLE)), TRUE)
        |    THEN 1 ELSE 0 END) FROM lineitem) AS BIGINT) = 0 FROM n
        |UNION ALL
        |SELECT 'in_set_l_returnflag', n_rows,
        |  CAST((SELECT SUM(CASE WHEN COALESCE(
        |      NOT(l_returnflag IN ('A','N','R')), TRUE)
        |    THEN 1 ELSE 0 END) FROM lineitem) AS BIGINT),
        |  CAST((SELECT SUM(CASE WHEN COALESCE(
        |      NOT(l_returnflag IN ('A','N','R')), TRUE)
        |    THEN 1 ELSE 0 END) FROM lineitem) AS BIGINT) = 0 FROM n
        |UNION ALL
        |SELECT 'unique_order_line', n_rows,
        |  CAST(n_rows - (SELECT COUNT(*) FROM (SELECT DISTINCT
        |      l_orderkey, l_linenumber FROM lineitem)) AS BIGINT),
        |  CAST(n_rows - (SELECT COUNT(*) FROM (SELECT DISTINCT
        |      l_orderkey, l_linenumber FROM lineitem)) AS BIGINT) = 0 FROM n
        |UNION ALL
        |SELECT 'fk_orders', n_rows,
        |  CAST((SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS
        |    (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
        |    AS BIGINT),
        |  CAST((SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS
        |    (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
        |    AS BIGINT) = 0 FROM n""".stripMargin,

    // q115: calibration bins — the bin id repeats the engine's exact
    // IEEE chain ((l_discount*10)*10, floor, least 9); means divide
    // exact DECIMAL(18,9) sums by the bin count under the
    // ROUND(+1e-9, 6) convention
    "q115_calibration" ->
      """WITH s AS (SELECT l_discount * 10 AS score,
        |    CASE WHEN l_returnflag = 'R' THEN CAST(1.0 AS DOUBLE)
        |      ELSE CAST(0.0 AS DOUBLE) END AS label FROM lineitem),
        |b AS (SELECT CAST(least(CAST(floor(score * 10) AS BIGINT), 9)
        |    AS INTEGER) AS bin, score, label FROM s)
        |SELECT bin, COUNT(*) AS n,
        |  ROUND(CAST(SUM(CAST(score AS DECIMAL(18,9))) AS DOUBLE)
        |    / COUNT(*) + 1e-9, 6) AS mean_score,
        |  ROUND(CAST(SUM(CASE WHEN label > 0.5 THEN 1 ELSE 0 END)
        |    AS DOUBLE) / COUNT(*) + 1e-9, 6) AS pos_rate
        |FROM b GROUP BY bin""".stripMargin,

    // q238: the persisted minhash index's health row — every stat
    // replayed from the q116 signature mirror over the base sources
    // (each doc contributes one row per band; buckets group by
    // (band, bucket-hash); hot cap 25)
    "q238_minhash_health" -> (shinglesCte + """,
        |sigs AS (SELECT doc_id, source,
        |  COALESCE(list_min(list_transform(sh3,
        |    s -> substr(md5(s), 1, 8))), 'zzzzzzzz') AS mh0,
        |  COALESCE(list_min(list_transform(sh3,
        |    s -> substr(md5(s), 9, 8))), 'zzzzzzzz') AS mh1,
        |  COALESCE(list_min(list_transform(sh3,
        |    s -> substr(md5(s), 17, 8))), 'zzzzzzzz') AS mh2,
        |  COALESCE(list_min(list_transform(sh3,
        |    s -> substr(md5(s), 25, 8))), 'zzzzzzzz') AS mh3
        |  FROM sh WHERE source IN ('src0','src1','src2','src3','src4')),
        |bkt AS (
        |  SELECT 0 AS band, md5(mh0 || '|' || mh1) AS bucket FROM sigs
        |  UNION ALL
        |  SELECT 1, md5(mh2 || '|' || mh3) FROM sigs),
        |sz AS (SELECT band, bucket, COUNT(*) AS n FROM bkt
        |  GROUP BY 1, 2)
        |SELECT 3 AS shingle_n, 4 AS sig_k, 2 AS n_bands,
        |  (SELECT COUNT(*) FROM bkt) AS total_rows,
        |  COUNT(*) AS n_buckets, MAX(n) AS max_bucket,
        |  COUNT(CASE WHEN n > 25 THEN 1 END) AS hot_buckets
        |FROM sz""".stripMargin),

    // q236: probing the PERSISTED banded index (built src0-2, appended
    // src3-4) must equal q116's direct two-sided incremental run — same
    // SQL verbatim
    "q236_minhash_index" -> (shinglesCte + """,
        |sigs AS (SELECT doc_id, source,
        |  COALESCE(list_min(list_transform(sh3,
        |    s -> substr(md5(s), 1, 8))), 'zzzzzzzz') AS mh0,
        |  COALESCE(list_min(list_transform(sh3,
        |    s -> substr(md5(s), 9, 8))), 'zzzzzzzz') AS mh1,
        |  COALESCE(list_min(list_transform(sh3,
        |    s -> substr(md5(s), 17, 8))), 'zzzzzzzz') AS mh2,
        |  COALESCE(list_min(list_transform(sh3,
        |    s -> substr(md5(s), 25, 8))), 'zzzzzzzz') AS mh3,
        |  list_distinct(sh3) AS shd FROM sh),
        |bnd AS (SELECT doc_id, source,
        |  md5(mh0 || '|' || mh1) AS b0, md5(mh2 || '|' || mh3) AS b1,
        |  shd FROM sigs),
        |p AS (SELECT d.doc_id AS delta_id, e.doc_id AS base_id,
        |    CAST(len(list_intersect(d.shd, e.shd)) AS DOUBLE)
        |      / (len(d.shd) + len(e.shd) - len(list_intersect(d.shd, e.shd)))
        |      AS jaccard
        |  FROM bnd d JOIN bnd e ON (d.b0 = e.b0 OR d.b1 = e.b1)
        |    AND d.source NOT IN ('src0','src1','src2','src3','src4')
        |    AND e.source IN ('src0','src1','src2','src3','src4'))
        |SELECT delta_id, base_id, jaccard FROM p
        |WHERE jaccard >= CAST(0.5 AS DOUBLE)""".stripMargin),

    // q116: incremental MinHash-LSH — the q27 signature mirror (4 md5
    // slots), 2 bands of 2 slots, candidates = band equality between
    // delta (src5+) and base (src0-4) sides only, verified with the q26
    // distinct-shingle Jaccard. The hot-bucket guard has no mirror: at
    // verify scale no bucket can reach the 10k cap (≤500 docs total)
    "q116_incremental_minhash" -> (shinglesCte + """,
        |sigs AS (SELECT doc_id, source,
        |  COALESCE(list_min(list_transform(sh3,
        |    s -> substr(md5(s), 1, 8))), 'zzzzzzzz') AS mh0,
        |  COALESCE(list_min(list_transform(sh3,
        |    s -> substr(md5(s), 9, 8))), 'zzzzzzzz') AS mh1,
        |  COALESCE(list_min(list_transform(sh3,
        |    s -> substr(md5(s), 17, 8))), 'zzzzzzzz') AS mh2,
        |  COALESCE(list_min(list_transform(sh3,
        |    s -> substr(md5(s), 25, 8))), 'zzzzzzzz') AS mh3,
        |  list_distinct(sh3) AS shd FROM sh),
        |bnd AS (SELECT doc_id, source,
        |  md5(mh0 || '|' || mh1) AS b0, md5(mh2 || '|' || mh3) AS b1,
        |  shd FROM sigs),
        |p AS (SELECT d.doc_id AS delta_id, e.doc_id AS base_id,
        |    CAST(len(list_intersect(d.shd, e.shd)) AS DOUBLE)
        |      / (len(d.shd) + len(e.shd) - len(list_intersect(d.shd, e.shd)))
        |      AS jaccard
        |  FROM bnd d JOIN bnd e ON (d.b0 = e.b0 OR d.b1 = e.b1)
        |    AND d.source NOT IN ('src0','src1','src2','src3','src4')
        |    AND e.source IN ('src0','src1','src2','src3','src4'))
        |SELECT delta_id, base_id, jaccard FROM p
        |WHERE jaccard >= CAST(0.5 AS DOUBLE)""".stripMargin),

    // q109: EWMA as a left fold over the bounded frame: DuckDB's
    // list_reduce starts acc = l[1] and the engine starts acc = 0.0 —
    // 0.0·0.9 + v1 = v1 bit-exactly, so both walk the same IEEE
    // sequence; NULL values are excluded on BOTH sides (Spark's
    // collect_list skips them, DuckDB's list() would keep them)
    "q109_ewma_decay" ->
      """SELECT event_id, user_id,
        |  ROUND(list_reduce(list(CAST(value AS DOUBLE)) OVER w,
        |    (a, x) -> a * CAST(0.9 AS DOUBLE) + x) + 1e-9, 6) AS ewma
        |FROM events WHERE value IS NOT NULL
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |  ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)""".stripMargin,

    // q108: robust MAD fences — two interpolated medians (value, then
    // absolute deviation), constants CAST to DOUBLE so DuckDB can't
    // parse them as exact DECIMAL, fences under the ROUND(+1e-9, 6)
    // convention like q89
    "q108_mad_outliers" ->
      """WITH m AS (SELECT quantile_cont(value, 0.5) AS med FROM events),
        |md AS (SELECT quantile_cont(abs(value - med), 0.5) AS mad
        |  FROM events, m),
        |f AS (SELECT
        |    med - CAST(3.5 AS DOUBLE) * CAST(1.4826 AS DOUBLE) * mad
        |      AS lo,
        |    med + CAST(3.5 AS DOUBLE) * CAST(1.4826 AS DOUBLE) * mad
        |      AS hi
        |  FROM m, md)
        |SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN value < lo OR value > hi THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_outliers,
        |  ROUND(lo + 1e-9, 6) AS fence_lo, ROUND(hi + 1e-9, 6) AS fence_hi
        |FROM events, f GROUP BY event_type, lo, hi""".stripMargin,

    // q106: FastSS fuzzy matching — deletion-neighborhood keys (i = 0
    // keeps the string itself, i >= 1 deletes 1-based position i; the
    // bound comes from len(t), the q82 convention), candidate equi-join
    // on shared keys, exact integer levenshtein verification. All-
    // integer output: immune to float formatting
    "q106_fuzzy_match" ->
      """WITH t AS (SELECT MIN(p_partkey) AS id, lower(trim(p_name)) AS t
        |  FROM part GROUP BY 2),
        |ks AS (SELECT id, t, unnest(range(0, len(t) + 1)) AS i FROM t),
        |k AS (SELECT DISTINCT id, t,
        |    CASE WHEN i = 0 THEN t
        |      ELSE substr(t, 1, CAST(i - 1 AS INTEGER))
        |        || substr(t, CAST(i + 1 AS INTEGER)) END AS k
        |  FROM ks),
        |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b,
        |    a.t AS ta, b.t AS tb
        |  FROM k a JOIN k b ON a.k = b.k AND a.id < b.id)
        |SELECT id_a, id_b, levenshtein(ta, tb) AS dist FROM cand
        |WHERE levenshtein(ta, tb) <= 1""".stripMargin,

    // q117: the q106 candidate CTEs, then Fellegi-Sunter scoring —
    // every weight an exact-in-binary constant CAST to DOUBLE, summed
    // in the engine's declaration order; NULL field comparisons
    // COALESCE to disagreement exactly like FieldRule
    "q117_linkage_score" ->
      """WITH t AS (SELECT MIN(p_partkey) AS id, lower(trim(p_name)) AS t
        |  FROM part GROUP BY 2),
        |ks AS (SELECT id, t, unnest(range(0, len(t) + 1)) AS i FROM t),
        |k AS (SELECT DISTINCT id, t,
        |    CASE WHEN i = 0 THEN t
        |      ELSE substr(t, 1, CAST(i - 1 AS INTEGER))
        |        || substr(t, CAST(i + 1 AS INTEGER)) END AS k
        |  FROM ks),
        |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b,
        |    a.t AS ta, b.t AS tb
        |  FROM k a JOIN k b ON a.k = b.k AND a.id < b.id),
        |pr AS (SELECT id_a, id_b, levenshtein(ta, tb) AS dist FROM cand
        |  WHERE levenshtein(ta, tb) <= 1),
        |fl AS (SELECT p.id_a, p.id_b, p.dist,
        |    COALESCE(a.p_brand = b.p_brand, FALSE) AS agree_p_brand,
        |    COALESCE(a.p_type = b.p_type, FALSE) AS agree_p_type,
        |    COALESCE(abs(a.p_size - b.p_size) <= 1, FALSE) AS agree_p_size
        |  FROM pr p JOIN part a ON p.id_a = a.p_partkey
        |    JOIN part b ON p.id_b = b.p_partkey),
        |sc AS (SELECT *,
        |    (CASE WHEN agree_p_brand THEN CAST(2.0 AS DOUBLE)
        |       ELSE CAST(-2.0 AS DOUBLE) END
        |     + CASE WHEN agree_p_type THEN CAST(1.5 AS DOUBLE)
        |       ELSE CAST(-1.5 AS DOUBLE) END
        |     + CASE WHEN agree_p_size THEN CAST(1.0 AS DOUBLE)
        |       ELSE CAST(-1.0 AS DOUBLE) END) AS score
        |  FROM fl)
        |SELECT id_a, id_b, dist, agree_p_brand, agree_p_type,
        |  agree_p_size, score, score >= CAST(0.0 AS DOUBLE) AS matched
        |FROM sc""".stripMargin,

    // q118: random projection — the oracle rebuilds the same ±1 matrix
    // from md5 parity (first hex digit even → +1), multiplies by exact
    // float→double casts, and folds left-to-right: list_reduce seeds
    // acc = t₁ where the engine seeds 0.0 + t₁ — bit-identical (the
    // q109 convention; a -0.0 t₁ difference dies in ROUND(+1e-9, 6))
    "q118_random_projection" ->
      """WITH js AS (SELECT unnest(range(0, 8)) AS j),
        |sg AS (SELECT j, list_transform(range(0, 64), i ->
        |    CASE WHEN substr(md5(CAST(i AS VARCHAR) || '_'
        |        || CAST(j AS VARCHAR)), 1, 1)
        |      IN ('0','2','4','6','8','a','c','e') THEN CAST(1.0 AS DOUBLE)
        |    ELSE CAST(-1.0 AS DOUBLE) END) AS sgn FROM js),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |p AS (SELECT vec_id, j,
        |    list_reduce(list_transform(range(1, len(v) + 1),
        |      ix -> v[ix] * sgn[ix]), (a, b) -> a + b) AS pv
        |  FROM e, sg)
        |SELECT vec_id,
        |  ROUND(MAX(CASE WHEN j = 0 THEN pv END) + 1e-9, 6) AS p0,
        |  ROUND(MAX(CASE WHEN j = 1 THEN pv END) + 1e-9, 6) AS p1,
        |  ROUND(MAX(CASE WHEN j = 2 THEN pv END) + 1e-9, 6) AS p2,
        |  ROUND(MAX(CASE WHEN j = 3 THEN pv END) + 1e-9, 6) AS p3,
        |  ROUND(MAX(CASE WHEN j = 4 THEN pv END) + 1e-9, 6) AS p4,
        |  ROUND(MAX(CASE WHEN j = 5 THEN pv END) + 1e-9, 6) AS p5,
        |  ROUND(MAX(CASE WHEN j = 6 THEN pv END) + 1e-9, 6) AS p6,
        |  ROUND(MAX(CASE WHEN j = 7 THEN pv END) + 1e-9, 6) AS p7
        |FROM p GROUP BY vec_id""".stripMargin,

    // q119: PMI collocations — the vocab is the q110 deterministic
    // order (cnt desc, token asc) cut at 20; doc frequencies and pair
    // counts are exact integers (DuckDB COUNT is BIGINT — no HUGEINT
    // hazard), and ln sees the identical double on both engines
    "q119_pmi_collocations" -> (toksCte + """,
        |c AS (SELECT token, COUNT(*) AS cnt FROM (
        |    SELECT unnest(toks) AS token FROM t) GROUP BY token),
        |v AS (SELECT token FROM c ORDER BY cnt DESC, token ASC LIMIT 20),
        |vl AS (SELECT list(token) AS vl FROM v),
        |n AS (SELECT COUNT(*) AS nd FROM t),
        |dt AS (SELECT doc_id, unnest(list_distinct(list_filter(toks,
        |    tk -> list_contains(vl, tk)))) AS token FROM t, vl),
        |p AS (SELECT a.token AS t_a, b.token AS t_b, COUNT(*) AS n_ab
        |  FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.token < b.token
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 5),
        |dfq AS (SELECT token, COUNT(*) AS df FROM dt GROUP BY token)
        |SELECT t_a, t_b, n_ab, a.df AS n_a, b.df AS n_b,
        |  ROUND(ln(CAST(n_ab * nd AS DOUBLE)
        |    / CAST(a.df * b.df AS DOUBLE)) + 1e-9, 6) AS pmi
        |FROM p JOIN dfq a ON p.t_a = a.token
        |  JOIN dfq b ON p.t_b = b.token, n""".stripMargin),

    // q124: winsorization — thresholds are ROUND(+1e-9, 6)-canonical
    // interpolated quantiles (the q89 convention) inlined into the
    // clip, so the replacement value is 6dp-decimal-representable and
    // the DECIMAL(18,6) clipped sum is order- and engine-independent
    "q124_winsorize" ->
      """WITH th AS (SELECT
        |    ROUND(quantile_cont(l_extendedprice, 0.05) + 1e-9, 6) AS lo,
        |    ROUND(quantile_cont(l_extendedprice, 0.95) + 1e-9, 6) AS hi
        |  FROM lineitem),
        |c AS (SELECT CAST(l_extendedprice AS DOUBLE) AS v,
        |    CASE WHEN l_extendedprice < lo THEN lo
        |      WHEN l_extendedprice > hi THEN hi
        |      ELSE CAST(l_extendedprice AS DOUBLE) END AS w
        |  FROM lineitem, th)
        |SELECT CAST(SUM(CASE WHEN w > v THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_raised,
        |  CAST(SUM(CASE WHEN w < v THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_lowered,
        |  MIN(w) AS t_lo, MAX(w) AS t_hi,
        |  CAST(SUM(CAST(w AS DECIMAL(18,6))) AS DOUBLE) AS sum_winsorized
        |FROM c""".stripMargin,

    // q122: hard negatives = the q29 exact-kNN mirror with each query's
    // positive set (id ≡ qid mod 5) excluded before ranking
    "q122_hard_negatives" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
        |c AS (SELECT vec_id AS id, v FROM e WHERE vec_id >= 5),
        |scored AS (
        |  SELECT qid, id,
        |    list_reduce(list_transform(range(1, len(v) + 1), i -> qv[i] * v[i]), (a, b) -> a + b)
        |    / sqrt(
        |      list_reduce(list_transform(range(1, len(qv) + 1), i -> qv[i] * qv[i]), (a, b) -> a + b)
        |      * list_reduce(list_transform(range(1, len(v) + 1), i -> v[i] * v[i]), (a, b) -> a + b)
        |    ) AS cosine
        |  FROM c CROSS JOIN q
        |  WHERE id % 5 <> qid),
        |ranked AS (
        |  SELECT qid, id, cosine,
        |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, id) AS "rank"
        |  FROM scored)
        |SELECT qid, "rank", id, cosine FROM ranked WHERE "rank" <= 3""".stripMargin,

    // q123: snapshot diff — statuses depend only on VALUE equality of
    // (status, totalprice) between the two derived snapshots, so the
    // mirror compares columns directly; all output is id + status string
    "q123_snapshot_diff" ->
      """WITH b AS (SELECT o_orderkey AS id, o_orderstatus AS st,
        |    o_totalprice AS tp FROM orders WHERE o_orderkey % 11 <> 0),
        |c AS (SELECT o_orderkey AS id,
        |    CASE WHEN o_orderkey % 13 = 0 THEN 'X' ELSE o_orderstatus END AS st,
        |    o_totalprice AS tp FROM orders WHERE o_orderkey % 7 <> 0)
        |SELECT COALESCE(b.id, c.id) AS o_orderkey,
        |  CASE WHEN b.id IS NULL THEN 'added'
        |    WHEN c.id IS NULL THEN 'removed'
        |    WHEN b.st <> c.st OR b.tp <> c.tp THEN 'changed'
        |    ELSE 'unchanged' END AS status
        |FROM b FULL OUTER JOIN c ON b.id = c.id
        |WHERE NOT (b.id IS NOT NULL AND c.id IS NOT NULL
        |  AND b.st = c.st AND b.tp = c.tp)""".stripMargin,

    // q121: 3-round synchronous label propagation over the symmetrized
    // co-purchase part graph, mirrored round for round; the per-node
    // argmax is a row_number with (cnt DESC, lbl ASC) — identical to
    // the engine's min(struct(-cnt, lbl)) aggregate. All-BIGINT
    "q121_label_prop" -> {
      val iter = (1 to 3).map { i =>
        val p = i - 1
        s"""c$i AS (SELECT e.dst AS id, l.lbl, COUNT(*) AS cnt
           |  FROM e JOIN l$p l ON e.src = l.id GROUP BY 1, 2),
           |w$i AS (SELECT id, lbl, ROW_NUMBER() OVER (PARTITION BY id
           |    ORDER BY cnt DESC, lbl ASC) AS rk FROM c$i),
           |l$i AS (SELECT id, lbl FROM w$i WHERE rk = 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH pe AS (SELECT DISTINCT a.l_partkey AS x, b.l_partkey AS y
         |  FROM lineitem a JOIN lineitem b
         |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
         |e AS (SELECT x AS src, y AS dst FROM pe
         |  UNION ALL SELECT y AS src, x AS dst FROM pe),
         |nodes AS (SELECT DISTINCT src AS id FROM e),
         |l0 AS (SELECT id, id AS lbl FROM nodes),
         |$iter
         |SELECT CAST(id AS BIGINT) AS part_key,
         |  CAST(lbl AS BIGINT) AS community FROM l3""".stripMargin
    },

    // q120: deterministic negative sampling — catalog index is dense
    // rank in ascending p_partkey order, candidate idx =
    // hex8(md5('neg' ␁ user ␁ attempt)) mod |catalog|, purchased pairs
    // excluded via NOT EXISTS (dialect-neutral anti join), first-4
    // surviving draws per customer. All-BIGINT output: nothing float-
    // formatted is ever hashed
    "q120_negative_sample" -> {
      val h = hex8("'neg' || chr(1) || CAST(u AS VARCHAR) || chr(1) || " +
        "CAST(j AS VARCHAR)")
      s"""WITH pos AS (SELECT DISTINCT o_custkey AS u, l_partkey AS it
         |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
         |cat AS (SELECT p_partkey AS it,
         |    ROW_NUMBER() OVER (ORDER BY p_partkey) - 1 AS idx FROM part),
         |mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM cat),
         |att AS (SELECT u, unnest(range(0, 12)) AS j
         |  FROM (SELECT DISTINCT u FROM pos)),
         |cand AS (SELECT u, j, $h % mm.m AS idx FROM att, mm),
         |hit AS (SELECT c.u, c.j, cat.it FROM cand c JOIN cat USING (idx)),
         |neg AS (SELECT u, it, MIN(j) AS j FROM hit
         |  WHERE NOT EXISTS (SELECT 1 FROM pos p
         |    WHERE p.u = hit.u AND p.it = hit.it)
         |  GROUP BY 1, 2),
         |rk AS (SELECT u, it, j,
         |    ROW_NUMBER() OVER (PARTITION BY u ORDER BY j) AS rnk FROM neg)
         |SELECT u AS cust_key, it AS part_key, CAST(j AS BIGINT) AS attempt
         |FROM rk WHERE rnk <= 4""".stripMargin
    },

    // q107: duplicated-passage fraction — distinct 3-shingles per doc
    // (the q25/q26 shingle CTEs), shingle document-frequency >= 2 ⇒
    // duplicated; integer counts, fraction under the ROUND(+1e-9, 6)
    // convention
    "q107_dup_passages" -> (shinglesCte + """,
        |ds AS (SELECT doc_id, list_distinct(sh3) AS g FROM sh),
        |ex AS (SELECT doc_id, unnest(g) AS g FROM ds),
        |dfq AS (SELECT g FROM ex GROUP BY g HAVING COUNT(*) >= 2),
        |dup AS (SELECT ex.doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup
        |  FROM ex JOIN dfq USING (g) GROUP BY ex.doc_id)
        |SELECT d.doc_id, CAST(len(d.g) AS BIGINT) AS n_shingles,
        |  COALESCE(n_dup, CAST(0 AS BIGINT)) AS n_duplicated,
        |  CASE WHEN len(d.g) = 0 THEN CAST(0.0 AS DOUBLE)
        |    ELSE ROUND(CAST(COALESCE(n_dup, 0) AS DOUBLE) / len(d.g)
        |      + 1e-9, 6) END AS dup_fraction
        |FROM ds d LEFT JOIN dup USING (doc_id)""".stripMargin),

    // q104: deterministic Lloyd's k-means, mirrored pass for pass —
    // init = k lowest vec_ids, distances as sequential 64-term double
    // sums rounded 9dp with centroid-index tiebreak, means as
    // DECIMAL(18,9)-exact element sums divided back in double, empty
    // clusters keeping their centroid via the frame COALESCE
    "q104_kmeans" ->
      (kmeansCte(8, 2, 64) +
        "\nSELECT vec_id, cl AS cluster FROM a3"),

    // q105: SemDeDup — cosine only within a final TWO-LEVEL k-means
    // cluster (coarse ⌈√k⌉ cells then per-cell fine Lloyd,
    // k = ceil(n/250) total, mirroring Clustering.kmeansTwoLevel: a
    // fixed k is a scale trap — 10× points would mean 100×
    // within-cluster pairs — and a single-level k ∝ n is O(n²·d)
    // assignment, measured 217× time for 100× data in the r8 scaling
    // decade); raw-double cosines hash-match by the q29 precedent
    // (identical sequential IEEE sums)
    "q105_semdedup" ->
      (kmeansTwoLevelCte("250.0", 2, 64) + """,
        |g AS (SELECT f.cluster, e.vec_id, e.v
        |  FROM fin f JOIN e USING (vec_id)),
        |p AS (SELECT a.cluster, a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_reduce(list_transform(range(1, 65),
        |      i -> a.v[i] * b.v[i]), (x, y) -> x + y)
        |    / sqrt(
        |      list_reduce(list_transform(range(1, 65),
        |        i -> a.v[i] * a.v[i]), (x, y) -> x + y)
        |      * list_reduce(list_transform(range(1, 65),
        |        i -> b.v[i] * b.v[i]), (x, y) -> x + y)) AS cosine
        |  FROM g a JOIN g b ON a.cluster = b.cluster
        |    AND a.vec_id < b.vec_id)
        |SELECT cluster, id_a, id_b, cosine FROM p
        |WHERE cosine >= CAST(0.3 AS DOUBLE)""".stripMargin),

    // q237: the persisted-state replay of q223 — identical semantics
    // through save -> load -> frozen-assign -> touched-cluster pairing,
    // so the mirror is q223's SQL verbatim (built below via the shared
    // definition)
    "q237_semdedup_persisted" ->
      (kmeansCte("16", 2, 64, "WHERE vec_id % 10 < 8") + """,
        |nb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id % 10 >= 8),
        |dn AS (SELECT nb.vec_id, c.cl,
        |    round(list_reduce(list_transform(range(1, 65),
        |      j -> (nb.v[j] - c.c[j]) * (nb.v[j] - c.c[j])),
        |      (a, b) -> a + b), 9) AS d
        |  FROM nb CROSS JOIN c2 c),
        |an AS (SELECT vec_id, cl FROM dn
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
        |    ORDER BY d, cl) = 1),
        |allp AS (
        |  SELECT a.cl AS cluster, e.vec_id, e.v, FALSE AS nw
        |  FROM a3 a JOIN e USING (vec_id)
        |  UNION ALL
        |  SELECT an.cl, nb.vec_id, nb.v, TRUE FROM an JOIN nb
        |    USING (vec_id)),
        |tc AS (SELECT DISTINCT cluster FROM allp WHERE nw),
        |g AS (SELECT allp.* FROM allp JOIN tc USING (cluster)),
        |p AS (SELECT a.cluster, a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_reduce(list_transform(range(1, 65),
        |      i -> a.v[i] * b.v[i]), (x, y) -> x + y)
        |    / sqrt(
        |      list_reduce(list_transform(range(1, 65),
        |        i -> a.v[i] * a.v[i]), (x, y) -> x + y)
        |      * list_reduce(list_transform(range(1, 65),
        |        i -> b.v[i] * b.v[i]), (x, y) -> x + y)) AS cosine
        |  FROM g a JOIN g b ON a.cluster = b.cluster
        |    AND a.vec_id < b.vec_id AND (a.nw OR b.nw))
        |SELECT cluster, id_a, id_b, cosine FROM p
        |WHERE cosine >= CAST(0.3 AS DOUBLE)""".stripMargin),

    // q240: q237's persisted-state replay plus the APPEND — day-1
    // (vec_id % 10 = 8, plus the planted id -1 carrying day-2's lowest
    // vector) assigns to the frozen centroids and joins the BASE side
    // (nw = FALSE: its pairs only emit against day-2 rows); day-2
    // (vec_id % 10 = 9) is the probing batch (nw = TRUE). The planted
    // row forces a cosine-1.0 day-2-vs-day-1 pair, so the append path
    // is load-bearing in the hash
    // (MATERIALIZED hints as q224: c2 now feeds THREE frozen-assignment
    // consumers — the training tail, day-1's, and day-2's — and e/b1/nb
    // each feed two; inlining the Lloyd chain per consumer explodes the
    // plan. Execution-only, value-identical.)
    "q240_semdedup_state_append" -> materializeCtes(
      Seq("e", "c2", "a3", "b1", "nb", "allp", "g"),
      kmeansCte("16", 2, 64, "WHERE vec_id % 10 < 8") + """,
        |pl AS (SELECT CAST(-1 AS BIGINT) AS vec_id,
        |  CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |  WHERE vec_id = (SELECT min(vec_id) FROM embeddings
        |    WHERE vec_id % 10 = 9)),
        |b1 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id % 10 = 8
        |  UNION ALL SELECT vec_id, v FROM pl),
        |db1 AS (SELECT b1.vec_id, c.cl,
        |    round(list_reduce(list_transform(range(1, 65),
        |      j -> (b1.v[j] - c.c[j]) * (b1.v[j] - c.c[j])),
        |      (a, b) -> a + b), 9) AS d
        |  FROM b1 CROSS JOIN c2 c),
        |ab1 AS (SELECT vec_id, cl FROM db1
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
        |    ORDER BY d, cl) = 1),
        |nb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id % 10 = 9),
        |dn AS (SELECT nb.vec_id, c.cl,
        |    round(list_reduce(list_transform(range(1, 65),
        |      j -> (nb.v[j] - c.c[j]) * (nb.v[j] - c.c[j])),
        |      (a, b) -> a + b), 9) AS d
        |  FROM nb CROSS JOIN c2 c),
        |an AS (SELECT vec_id, cl FROM dn
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
        |    ORDER BY d, cl) = 1),
        |allp AS (
        |  SELECT a.cl AS cluster, e.vec_id, e.v, FALSE AS nw
        |  FROM a3 a JOIN e USING (vec_id)
        |  UNION ALL
        |  SELECT ab1.cl, b1.vec_id, b1.v, FALSE FROM ab1 JOIN b1
        |    USING (vec_id)
        |  UNION ALL
        |  SELECT an.cl, nb.vec_id, nb.v, TRUE FROM an JOIN nb
        |    USING (vec_id)),
        |tc AS (SELECT DISTINCT cluster FROM allp WHERE nw),
        |g AS (SELECT allp.* FROM allp JOIN tc USING (cluster)),
        |p AS (SELECT a.cluster, a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_reduce(list_transform(range(1, 65),
        |      i -> a.v[i] * b.v[i]), (x, y) -> x + y)
        |    / sqrt(
        |      list_reduce(list_transform(range(1, 65),
        |        i -> a.v[i] * a.v[i]), (x, y) -> x + y)
        |      * list_reduce(list_transform(range(1, 65),
        |        i -> b.v[i] * b.v[i]), (x, y) -> x + y)) AS cosine
        |  FROM g a JOIN g b ON a.cluster = b.cluster
        |    AND a.vec_id < b.vec_id AND (a.nw OR b.nw))
        |SELECT cluster, id_a, id_b, cosine FROM p
        |WHERE cosine >= CAST(0.3 AS DOUBLE)""".stripMargin),

    // q223: INCREMENTAL SemDeDup — the base slice (vec_id % 10 < 8)
    // clusters through the standard unrolled Lloyd CTEs (iters = 2, so
    // final centroids are c2 and the base's final assignment is a3);
    // the batch slice assigns to those FROZEN centroids under the same
    // rounded-distance lower-index-tiebreak convention, and only pairs
    // involving a batch point, in batch-touched clusters, survive
    "q223_semdedup_incremental" ->
      (kmeansCte("16", 2, 64, "WHERE vec_id % 10 < 8") + """,
        |nb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id % 10 >= 8),
        |dn AS (SELECT nb.vec_id, c.cl,
        |    round(list_reduce(list_transform(range(1, 65),
        |      j -> (nb.v[j] - c.c[j]) * (nb.v[j] - c.c[j])),
        |      (a, b) -> a + b), 9) AS d
        |  FROM nb CROSS JOIN c2 c),
        |an AS (SELECT vec_id, cl FROM dn
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
        |    ORDER BY d, cl) = 1),
        |allp AS (
        |  SELECT a.cl AS cluster, e.vec_id, e.v, FALSE AS nw
        |  FROM a3 a JOIN e USING (vec_id)
        |  UNION ALL
        |  SELECT an.cl, nb.vec_id, nb.v, TRUE FROM an JOIN nb
        |    USING (vec_id)),
        |tc AS (SELECT DISTINCT cluster FROM allp WHERE nw),
        |g AS (SELECT allp.* FROM allp JOIN tc USING (cluster)),
        |p AS (SELECT a.cluster, a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_reduce(list_transform(range(1, 65),
        |      i -> a.v[i] * b.v[i]), (x, y) -> x + y)
        |    / sqrt(
        |      list_reduce(list_transform(range(1, 65),
        |        i -> a.v[i] * a.v[i]), (x, y) -> x + y)
        |      * list_reduce(list_transform(range(1, 65),
        |        i -> b.v[i] * b.v[i]), (x, y) -> x + y)) AS cosine
        |  FROM g a JOIN g b ON a.cluster = b.cluster
        |    AND a.vec_id < b.vec_id AND (a.nw OR b.nw))
        |SELECT cluster, id_a, id_b, cosine FROM p
        |WHERE cosine >= CAST(0.3 AS DOUBLE)""".stripMargin),

    // q224: incremental SemDeDup at the SCALE clustering — the base
    // slice runs the two-level Lloyd CTEs (fin labels, frozen coarse c2
    // + fine f2 centroids at iters = 2); the batch replays BOTH frozen
    // levels (coarse argmin over c2, then fine argmin over its cell's
    // f2 rows, COALESCE fj -> 0 for a base-empty cell) and only
    // batch-involving pairs in batch-touched clusters survive
    // DuckDB needs MATERIALIZED hints here: the two-level CTE chain is
    // consumed by BOTH the training tail and the frozen batch-assignment
    // branch, and inlining it into every consumer exploded the plan
    // (observed OOM at 100 GiB at 10x SF; with the hints the same query
    // runs in ~12 s under a 24 GB cap — execution-only, value-identical)
    "q224_semdedup_incremental_auto" -> materializeCtes(
      Seq("e", "pts", "nb", "allp", "g"),
      kmeansTwoLevelCte("100.0", 2, 64, "WHERE vec_id % 10 < 8") + """,
        |nb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id % 10 >= 8),
        |dnc AS (SELECT nb.vec_id, c.cl,
        |    round(list_reduce(list_transform(range(1, 65),
        |      j -> (nb.v[j] - c.c[j]) * (nb.v[j] - c.c[j])),
        |      (a, b) -> a + b), 9) AS d
        |  FROM nb CROSS JOIN c2 c),
        |anc AS (SELECT vec_id, cl FROM dnc
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
        |    ORDER BY d, cl) = 1),
        |bfd AS (SELECT an.vec_id, f.fj,
        |    round(list_reduce(list_transform(range(1, 65),
        |      j -> (nb.v[j] - f.c[j]) * (nb.v[j] - f.c[j])),
        |      (a, b) -> a + b), 9) AS d
        |  FROM anc an JOIN nb USING (vec_id)
        |  JOIN f2 f ON f.cell = an.cl),
        |bfa AS (SELECT vec_id, fj FROM bfd
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
        |    ORDER BY d, fj) = 1),
        |bcl AS (SELECT an.vec_id,
        |    CAST(an.cl AS BIGINT) * 4294967296 + COALESCE(b.fj, 0)
        |      AS cluster
        |  FROM anc an LEFT JOIN bfa b USING (vec_id)),
        |allp AS (
        |  SELECT fin.cluster, e.vec_id, e.v, FALSE AS nw
        |  FROM fin JOIN e USING (vec_id)
        |  UNION ALL
        |  SELECT bcl.cluster, nb.vec_id, nb.v, TRUE FROM bcl JOIN nb
        |    USING (vec_id)),
        |tc AS (SELECT DISTINCT cluster FROM allp WHERE nw),
        |g AS (SELECT allp.* FROM allp JOIN tc USING (cluster)),
        |p AS (SELECT a.cluster, a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_reduce(list_transform(range(1, 65),
        |      i -> a.v[i] * b.v[i]), (x, y) -> x + y)
        |    / sqrt(
        |      list_reduce(list_transform(range(1, 65),
        |        i -> a.v[i] * a.v[i]), (x, y) -> x + y)
        |      * list_reduce(list_transform(range(1, 65),
        |        i -> b.v[i] * b.v[i]), (x, y) -> x + y)) AS cosine
        |  FROM g a JOIN g b ON a.cluster = b.cluster
        |    AND a.vec_id < b.vec_id AND (a.nw OR b.nw))
        |SELECT cluster, id_a, id_b, cosine FROM p
        |WHERE cosine >= CAST(0.3 AS DOUBLE)""".stripMargin),

    // q225: next-fit sequence packing — per id-mod-8 bucket, a
    // recursive CTE walks documents in id order carrying (seq, fill):
    // overflow closes the sequence, an oversized doc isolates. One
    // frontier row per bucket per iteration, so recursion depth is the
    // largest bucket's doc count
    "q225_pack_sequences" ->
      """WITH RECURSIVE t AS (
        |  SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |    ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
        |  FROM documents),
        |d AS (
        |  SELECT doc_id,
        |    CAST(((doc_id % 8) + 8) % 8 AS INTEGER) AS bucket,
        |    CAST(len(toks) AS BIGINT) AS n,
        |    ROW_NUMBER() OVER (PARTITION BY ((doc_id % 8) + 8) % 8
        |      ORDER BY doc_id) AS rn
        |  FROM t),
        |walk AS (
        |  SELECT bucket, rn, doc_id, n, CAST(0 AS BIGINT) AS seq,
        |    n AS seq_fill
        |  FROM d WHERE rn = 1
        |  UNION ALL
        |  SELECT nxt.bucket, nxt.rn, nxt.doc_id, nxt.n,
        |    CASE WHEN w.seq_fill + nxt.n > 128 THEN w.seq + 1
        |      ELSE w.seq END,
        |    CASE WHEN w.seq_fill + nxt.n > 128 THEN nxt.n
        |      ELSE w.seq_fill + nxt.n END
        |  FROM walk w JOIN d nxt ON nxt.bucket = w.bucket
        |    AND nxt.rn = w.rn + 1)
        |SELECT doc_id, bucket, seq, seq_fill FROM walk""".stripMargin,

    // q226: semantic decontamination — per corpus vector, MAX cosine to
    // any benchmark vector (identical per-pair IEEE sums as q29, and
    // MAX over identical doubles is order-independent), flagged at tau
    "q226_semantic_decontam" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |b AS (SELECT v AS bv FROM e WHERE vec_id < 5),
        |c AS (SELECT vec_id AS id, v FROM e WHERE vec_id >= 5),
        |m AS (SELECT id, MAX(
        |    list_reduce(list_transform(range(1, 65),
        |      i -> v[i] * bv[i]), (x, y) -> x + y)
        |    / sqrt(
        |      list_reduce(list_transform(range(1, 65),
        |        i -> v[i] * v[i]), (x, y) -> x + y)
        |      * list_reduce(list_transform(range(1, 65),
        |        i -> bv[i] * bv[i]), (x, y) -> x + y))
        |  ) AS max_benchmark_cosine
        |  FROM c CROSS JOIN b GROUP BY id)
        |SELECT id, max_benchmark_cosine,
        |  max_benchmark_cosine >= CAST(0.25 AS DOUBLE) AS contaminated
        |FROM m""".stripMargin,

    // q103: PSI drift — fixed-width bins from the population (min, max)
    // with identical IEEE width arithmetic, Laplace smoothing (0.5 and
    // 5.0 are binary-exact doubles; the CASTs stop DuckDB from parsing
    // them as exact DECIMAL), per-bin terms rounded 9dp into exact
    // decimal sums
    "q103_drift_psi" ->
      """WITH v AS (SELECT event_type, CAST(value AS DOUBLE) AS v
        |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
        |b AS (SELECT MIN(v) AS mn, MAX(v) AS mx,
        |    CAST(COUNT(*) AS DOUBLE) AS nall FROM v),
        |binned AS (SELECT event_type,
        |    LEAST(9, CAST(floor((v - mn) / ((mx - mn) / 10)) AS INTEGER))
        |      AS bin FROM v, b),
        |gb AS (SELECT event_type, bin, COUNT(*) AS c FROM binned
        |  GROUP BY 1, 2),
        |frame AS (SELECT DISTINCT event_type FROM v),
        |bins AS (SELECT CAST(unnest(range(0, 10)) AS INTEGER) AS bin),
        |f AS (SELECT fr.event_type, bins.bin, COALESCE(gb.c, 0) AS c
        |  FROM frame fr CROSS JOIN bins
        |  LEFT JOIN gb ON gb.event_type = fr.event_type
        |    AND gb.bin = bins.bin),
        |pop AS (SELECT bin, CAST(SUM(c) AS BIGINT) AS call FROM f
        |  GROUP BY 1),
        |gn AS (SELECT event_type, CAST(SUM(c) AS BIGINT) AS ng FROM f
        |  GROUP BY 1),
        |t AS (SELECT event_type, ng,
        |    CAST(round((p - q) * ln(p / q), 9) AS DECIMAL(18,9)) AS t
        |  FROM (SELECT f.event_type, gn.ng,
        |      (f.c + CAST(0.5 AS DOUBLE)) / (gn.ng + CAST(5.0 AS DOUBLE))
        |        AS p,
        |      (pop.call + CAST(0.5 AS DOUBLE)) / (b.nall
        |        + CAST(5.0 AS DOUBLE)) AS q
        |    FROM f JOIN pop USING (bin) JOIN gn USING (event_type), b))
        |SELECT event_type, ng AS n_rows,
        |  ROUND(CAST(SUM(t) AS DOUBLE) + 1e-9, 6) AS psi
        |FROM t GROUP BY 1, 2""".stripMargin,

    // q102: 3 unrolled PageRank iterations, mirrored term for term:
    // contributions round to integer 1e-12 units (round(x·1e12, 0), the
    // same IEEE product both engines compute) and sum as BIGINTs — edge
    // order can't perturb an integer sum — then divide back in double.
    // The teleport term is (1.0 - 0.85)/n with the SUBTRACTION in
    // double — a literal 0.15 is one ulp off the engine's JVM
    // `1.0 - damping` (and DuckDB would parse it as exact DECIMAL
    // besides)
    "q102_pagerank" -> {
      val iter = (1 to 3).map { i =>
        val p = i - 1
        s"""c$i AS (SELECT e.dst AS id,
           |    CAST(round(r.rank / d.deg * 1e12, 0) AS BIGINT) AS c
           |  FROM e JOIN r$p r ON e.src = r.id JOIN deg d ON e.src = d.src),
           |a$i AS (SELECT id, CAST(SUM(c) AS DOUBLE) / 1e12 AS s
           |  FROM c$i GROUP BY 1),
           |r$i AS (SELECT n.id,
           |    (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
           |      + CAST(0.85 AS DOUBLE) * COALESCE(a.s, 0.0) AS rank
           |  FROM nodes n LEFT JOIN a$i a ON n.id = a.id, nn)"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH e0 AS (SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS c,
         |    's' || CAST(l_suppkey AS VARCHAR) AS s
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |e AS (SELECT c AS src, s AS dst FROM e0
         |  UNION ALL SELECT s AS src, c AS dst FROM e0),
         |nodes AS (SELECT DISTINCT src AS id FROM e),
         |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
         |deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY 1),
         |r0 AS (SELECT id, CAST(1.0 AS DOUBLE) / nn.n AS rank
         |  FROM nodes, nn),
         |$iter
         |SELECT id, ROUND(rank + 1e-9, 9) AS rank FROM r3""".stripMargin
    },

    // q101: hashing-trick vectorizer — bucket = hex8(md5(name ␁ term))
    // mod 32, the engine's codegen expression reproduced via the strpos
    // hex chain. The two bags' keys never share a bucket within a row
    // (verified for this data), so per-bucket totals are plain
    // DECIMAL(18,6)-exact sums over feature instances; empty buckets
    // surface as 0 through the range join (the dense vector explode
    // emits all 32)
    "q101_hashed_features" -> {
      def b(key: String) = s"${hex8(key)} % 32"
      s"""WITH f AS (
         |  SELECT ${b("'flag' || chr(1) || l_returnflag")} AS bucket,
         |    CAST(l_quantity AS DECIMAL(18,6)) AS v FROM lineitem
         |  UNION ALL
         |  SELECT ${b("'status' || chr(1) || l_linestatus")},
         |    CAST(l_extendedprice AS DECIMAL(18,6)) FROM lineitem),
         |s AS (SELECT bucket, SUM(v) AS t FROM f GROUP BY 1)
         |SELECT r.i AS bucket,
         |  CAST(COALESCE(t, 0) AS DOUBLE) AS total
         |FROM (SELECT unnest(range(0, 32)) AS i) r
         |LEFT JOIN s ON r.i = s.bucket""".stripMargin
    },

    // q100: hourly OHLC bars — open/close as their declarative
    // first/last-by-(ts, event_id) window definition; the engine's
    // min/max(struct) aggregate must agree. Bucket is integer epoch
    // arithmetic on both sides; volume is the exact-decimal sum
    "q100_ohlc_bars" ->
      """WITH b AS (SELECT user_id, value, ts, event_id,
        |    CAST(floor(epoch_us(ts) / 3600000000) AS BIGINT) AS bucket
        |  FROM events),
        |r AS (SELECT *,
        |    row_number() OVER (PARTITION BY user_id, bucket
        |      ORDER BY ts, event_id) AS rn_a,
        |    row_number() OVER (PARTITION BY user_id, bucket
        |      ORDER BY ts DESC, event_id DESC) AS rn_d
        |  FROM b)
        |SELECT user_id, bucket, COUNT(*) AS n,
        |  MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
        |  MAX(value) AS high, MIN(value) AS low,
        |  MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS volume
        |FROM r GROUP BY user_id, bucket""".stripMargin,

    // q98: exact stratified split as its declarative definition — rank
    // within stratum by the salted md5, cut at floor(0.8·n + 0.5).
    // CAST(0.8 AS DOUBLE) is load-bearing: DuckDB parses the bare
    // literal as DECIMAL(2,1) and would compute an exact 0.8·n where
    // the engine's JVM double gives e.g. 20.000000000000004 — the +0.5
    // floor rounds both to the same integer only when both sides run
    // the SAME double arithmetic
    "q98_stratified_split" ->
      """WITH r AS (SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5('strat_' || CAST(doc_id AS VARCHAR)),
        |        CAST(doc_id AS VARCHAR)) - 1 AS rk,
        |    COUNT(*) OVER (PARTITION BY source) AS n
        |  FROM documents)
        |SELECT doc_id, source,
        |  CASE WHEN rk < floor(CAST(0.8 AS DOUBLE) * n + 0.5)
        |    THEN 'train' ELSE 'test' END AS split
        |FROM r""".stripMargin,

    // q58: candidate docs vs the src0 benchmark set, DISTINCT 3-shingle
    // overlap per doc — the broadcast semi-join mirrored relationally
    "q58_decontam" -> (shinglesCte + """,
      |bench AS (SELECT DISTINCT unnest(sh3) AS g FROM sh
      |  WHERE source = 'src0'),
      |cand AS (SELECT DISTINCT doc_id, unnest(sh3) AS g FROM sh
      |  WHERE source <> 'src0'),
      |hits AS (SELECT doc_id, COUNT(*) AS n FROM cand
      |  JOIN bench USING (g) GROUP BY 1)
      |SELECT d.doc_id, COALESCE(h.n, 0) AS n_contaminated,
      |  COALESCE(h.n, 0) > 0 AS is_contaminated
      |FROM documents d LEFT JOIN hits h USING (doc_id)
      |WHERE d.source <> 'src0'""".stripMargin),

    // q59: the as-of join as its declarative definition — latest view at
    // or before each click, ties by largest event_id (the engine's
    // union+window formulation must agree with the per-row subquery)
    "q59_asof_join" ->
      """SELECT c.event_id AS click_id, c.user_id,
        |  (SELECT v.value FROM events v
        |    WHERE v.event_type = 'view' AND v.user_id = c.user_id
        |      AND v.ts <= c.ts
        |    ORDER BY v.ts DESC, v.event_id DESC LIMIT 1) AS last_view_value
        |FROM events c WHERE c.event_type = 'click'""".stripMargin,

    "q60_split_assign" -> (
      "SELECT doc_id, CASE WHEN f < 0.8 THEN 'train' " +
        "WHEN f < 0.9 THEN 'val' ELSE 'test' END AS split " +
        "FROM (SELECT doc_id, CAST(" +
        hex8("'split_' || CAST(doc_id AS VARCHAR)") +
        " AS DOUBLE) / 4294967296.0 AS f FROM documents)"),

    // leakage-safe split: the hash runs over the CONTENT hash (salt
    // 'gsplit'), so identical texts share a side by construction
    "q216_leakage_safe_split" -> (
      "SELECT doc_id, CASE WHEN f < 0.8 THEN 'train' " +
        "WHEN f < 0.9 THEN 'val' ELSE 'test' END AS split " +
        "FROM (SELECT doc_id, CAST(" +
        hex8("'gsplit_' || md5(text)") +
        " AS DOUBLE) / 4294967296.0 AS f FROM documents)"),

    // q61: ranking is integer-exact (tf desc, df asc, term asc); the
    // floating tfidf column is display-only, rounded at 6dp
    "q61_tfidf" -> (toksCte + """,
      |tok AS (SELECT doc_id, unnest(toks) AS term FROM t),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
      |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
      |n AS (SELECT COUNT(*) AS n FROM documents),
      |r AS (SELECT doc_id, term, tf, df,
      |    ROW_NUMBER() OVER (PARTITION BY doc_id
      |      ORDER BY tf DESC, df ASC, term ASC) AS rank
      |  FROM tf JOIN df USING (term))
      |SELECT doc_id, rank, term, tf, df,
      |  ROUND(tf * LN(CAST(n AS DOUBLE) / df) + 1e-9, 6) AS tfidf
      |FROM r, n WHERE rank <= 3""".stripMargin),

    // q62: add-one-smoothed bigram LM; per-bigram -ln p rounded at 9dp
    // and summed as DECIMAL(18,9) so the mean is order-independent
    "q62_bigram_lm" -> (toksCte + """,
      |bgl AS (SELECT doc_id, CASE WHEN len(toks) < 2 THEN CAST([] AS VARCHAR[])
      |    ELSE list_transform(range(1, len(toks)),
      |      i -> toks[i] || ' ' || toks[i+1]) END AS bgs FROM t),
      |bgw AS (SELECT doc_id, bg, split_part(bg, ' ', 1) AS w1
      |  FROM (SELECT doc_id, unnest(bgs) AS bg FROM bgl)),
      |cbig AS (SELECT bg, COUNT(*) AS c2 FROM bgw GROUP BY 1),
      |cpre AS (SELECT w1, COUNT(*) AS c1 FROM bgw GROUP BY 1),
      |v AS (SELECT COUNT(DISTINCT tok) AS v
      |  FROM (SELECT unnest(toks) AS tok FROM t)),
      |nlp AS (SELECT doc_id,
      |    CAST(ROUND(-LN((c2 + 1.0) / CAST(c1 + v AS DOUBLE)), 9)
      |      AS DECIMAL(18,9)) AS nlp
      |  FROM bgw JOIN cbig USING (bg) JOIN cpre USING (w1), v),
      |sc AS (SELECT doc_id, COUNT(*) AS n_bigrams,
      |    ROUND(CAST(SUM(nlp) AS DOUBLE) / COUNT(*) + 1e-9, 6) AS avg_nll
      |  FROM nlp GROUP BY 1)
      |SELECT d.doc_id, COALESCE(n_bigrams, 0) AS n_bigrams,
      |  COALESCE(avg_nll, 0.0) AS avg_nll
      |FROM documents d LEFT JOIN sc USING (doc_id)""".stripMargin),

    // q63: the outer CAST(SUM .. AS BIGINT) matters — DuckDB SUM over
    // integers returns HUGEINT, which its client coerces to float64, so
    // an uncast k_sum hashes as "123.0" against Spark's "123". The k
    // value is pulled by regexp, not a JSON path: '$.k'-style path
    // handling is the kind of extension behavior that can shift across
    // DuckDB versions, while the props column is verifiably flat
    // ({"k": N} for every row) so the regexp is exact
    "q63_json_extract" -> {
      val k = """NULLIF(regexp_extract(props, '"k":\s*(-?\d+)', 1), '')"""
      s"""SELECT event_type, COUNT(*) AS n,
         |  CAST(SUM(CAST($k AS BIGINT)) AS BIGINT) AS k_sum,
         |  ROUND(CAST(SUM(CAST($k AS BIGINT))
         |    AS DOUBLE) / COUNT(*) + 1e-9, 6) AS k_avg
         |FROM events GROUP BY event_type""".stripMargin
    },

    // q64: the range join as its declarative definition (inequality
    // join); the engine's bucketized equi-join must agree exactly
    "q64_range_join" ->
      """WITH e AS (SELECT event_id, user_id, ts FROM events
        |  WHERE event_type = 'error'),
        |c AS (SELECT user_id, ts, value FROM events
        |  WHERE event_type = 'click'),
        |j AS (SELECT e.event_id, COUNT(c.ts) AS n,
        |    SUM(CAST(c.value AS DECIMAL(18,2))) AS s
        |  FROM e LEFT JOIN c ON e.user_id = c.user_id
        |    AND c.ts > e.ts - INTERVAL 3600 SECOND AND c.ts <= e.ts
        |  GROUP BY 1)
        |SELECT event_id AS error_id, n AS n_in_window,
        |  CAST(COALESCE(s, 0) AS DOUBLE) AS value_sum FROM j""".stripMargin,

    // q65: percentile() in Spark and quantile_cont() in DuckDB share the
    // p·(n−1) linear-interpolation definition
    "q65_column_profile" ->
      """SELECT col_name, ROUND(p25 + 1e-9, 6) AS p25,
        |  ROUND(p50 + 1e-9, 6) AS p50, ROUND(p75 + 1e-9, 6) AS p75
        |FROM (
        |  SELECT 'l_quantity' AS col_name,
        |    quantile_cont(l_quantity, 0.25) AS p25,
        |    quantile_cont(l_quantity, 0.5) AS p50,
        |    quantile_cont(l_quantity, 0.75) AS p75 FROM lineitem
        |  UNION ALL
        |  SELECT 'l_discount',
        |    quantile_cont(l_discount, 0.25), quantile_cont(l_discount, 0.5),
        |    quantile_cont(l_discount, 0.75) FROM lineitem
        |  UNION ALL
        |  SELECT 'l_tax',
        |    quantile_cont(l_tax, 0.25), quantile_cont(l_tax, 0.5),
        |    quantile_cont(l_tax, 0.75) FROM lineitem)""".stripMargin,

    // q66/q67: the salt only re-routes rows — the oracle is the plain
    // unsalted aggregation / join
    "q66_salted_agg" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
        |FROM events GROUP BY event_type""".stripMargin,

    "q67_salted_join" ->
      """SELECT p_brand, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand""".stripMargin,

    "q69_rolling_features" ->
      """SELECT event_id, user_id,
        |  ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w5 AS DOUBLE)
        |    / COUNT(*) OVER w5 + 1e-9, 6) AS trail5_avg,
        |  COUNT(*) OVER w AS n_so_far
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
        |  w5 AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)""".stripMargin,

    "q70_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        |  GROUPING(l_returnflag, l_linestatus) AS gid, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,

    "q71_pivot" -> ("SELECT user_id, " +
      Seq("click", "view", "purchase", "error", "signup").map(t =>
        s"CAST(SUM(CASE WHEN event_type = '$t' THEN " +
          s"CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS $t")
        .mkString(", ") +
      " FROM events GROUP BY user_id"),

    "q72_grouped_percentiles" ->
      """SELECT event_type,
        |  ROUND(quantile_cont(value, 0.5) + 1e-9, 6) AS p50,
        |  ROUND(quantile_cont(value, 0.9) + 1e-9, 6) AS p90
        |FROM events GROUP BY event_type""".stripMargin,

    // q73: Efraimidis-Spirakis weighted reservoir with hash randomness —
    // keep the 5 largest u^(1/w) keys per type
    // the 12dp ROUND mirrors weightedSample's ulp guard: raw pow results
    // can differ between libm implementations in the last bits
    "q73_weighted_sample" -> (
      "WITH x AS (SELECT event_type, event_id, md5(CAST(event_id AS VARCHAR)) AS h, " +
        "ROUND(POW(CAST(" + hex8("CAST(event_id AS VARCHAR)") +
        " AS DOUBLE) / 4294967296.0, 1.0 / (value + 1.0)), 12) AS k FROM events), " +
        "r AS (SELECT event_type, event_id, ROW_NUMBER() OVER " +
        "(PARTITION BY event_type ORDER BY k DESC, h) AS rn FROM x) " +
        "SELECT event_type, event_id FROM r WHERE rn <= 5"),

    "q74_feature_binning" ->
      """WITH th AS (SELECT quantile_cont(l_extendedprice, 0.25) AS t1,
        |  quantile_cont(l_extendedprice, 0.5) AS t2,
        |  quantile_cont(l_extendedprice, 0.75) AS t3 FROM lineitem)
        |SELECT CASE WHEN l_extendedprice < t1 THEN 1
        |  WHEN l_extendedprice < t2 THEN 2
        |  WHEN l_extendedprice < t3 THEN 3 ELSE 4 END AS bin,
        |COUNT(*) AS n, ROUND(MIN(l_extendedprice) + 1e-9, 6) AS bin_min,
        |  ROUND(MAX(l_extendedprice) + 1e-9, 6) AS bin_max
        |FROM lineitem, th GROUP BY 1""".stripMargin,

    "q75_correlations" ->
      """SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b,
        |  ROUND(corr(l_quantity, l_extendedprice) + 1e-9, 6) AS r
        |FROM lineitem
        |UNION ALL
        |SELECT 'l_quantity', 'l_discount',
        |  ROUND(corr(l_quantity, l_discount) + 1e-9, 6) FROM lineitem
        |UNION ALL
        |SELECT 'l_extendedprice', 'l_tax',
        |  ROUND(corr(l_extendedprice, l_tax) + 1e-9, 6) FROM lineitem""".stripMargin,

    "q76_normalize" ->
      """SELECT doc_id, md5(n) AS norm_hash, length(n) AS n_chars_norm
        |FROM (SELECT doc_id, trim(regexp_replace(regexp_replace(
        |  lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS n
        |FROM documents)""".stripMargin,

    "q77_funnel" ->
      """WITH fv AS (SELECT user_id, MIN(ts) AS vts FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |fc AS (SELECT e.user_id, MIN(e.ts) AS cts FROM events e
        |  JOIN fv USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts >= fv.vts GROUP BY 1),
        |fp AS (SELECT DISTINCT e.user_id FROM events e
        |  JOIN fc USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts >= fc.cts)
        |SELECT (SELECT COUNT(DISTINCT user_id) FROM events) AS n_users,
        |  (SELECT COUNT(*) FROM fv) AS n_viewed,
        |  (SELECT COUNT(*) FROM fc) AS n_click_after_view,
        |  (SELECT COUNT(*) FROM fp) AS n_purchase_after_click""".stripMargin,

    // q79: the bloom pre-filter is a superset prune — the exact join
    // decides, so the oracle is the plain join
    // q78: cohort key is the Monday DATE of the first active week (both
    // engines' date_trunc('week') is Monday-based), year-boundary safe
    "q78_cohort_retention" ->
      """WITH e AS (SELECT user_id,
        |    CAST(date_trunc('week', ts) AS DATE) AS wk FROM events),
        |f AS (SELECT user_id, MIN(wk) AS cohort_week FROM e GROUP BY 1)
        |SELECT cohort_week,
        |  COUNT(DISTINCT user_id) AS cohort_size,
        |  COUNT(DISTINCT CASE WHEN date_diff('day', cohort_week, wk) = 7
        |    THEN user_id END) AS retained_wk1,
        |  COUNT(DISTINCT CASE WHEN date_diff('day', cohort_week, wk) = 28
        |    THEN user_id END) AS retained_wk4
        |FROM e JOIN f USING (user_id) GROUP BY 1""".stripMargin,

    // q80: greedy cumulative-cut packing inside md5 hash buckets —
    // the window mirrors Spark's exactly (same order key, same frame).
    // All-BIGINT output must stay integer-typed end to end: the bucket
    // uses only the 8th md5 hex digit (16^j ≡ 0 mod 8 for j ≥ 1, so
    // hex8(s) % 8 reduces to the last digit mod 8 — no strpos chain),
    // the cut is floor(x/256.0) not dialect `//`, and the terminal SUM
    // is cast back to BIGINT (DuckDB integer SUM yields HUGEINT, which
    // its client floats — the hash then sees "123.0" vs "123")
    "q80_sequence_packing" -> (toksCte + s""",
      |d AS (SELECT doc_id, len(toks) AS n_tokens,
      |  (strpos('0123456789abcdef',
      |     substr(md5('pack_' || CAST(doc_id AS VARCHAR)), 8, 1)) - 1) % 8
      |    AS bucket,
      |  md5('ord_' || CAST(doc_id AS VARCHAR)) AS ord FROM t),
      |a AS (SELECT bucket, n_tokens,
      |  CAST(floor((SUM(n_tokens) OVER (PARTITION BY bucket
      |     ORDER BY ord, doc_id
      |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |   - n_tokens) / 256.0) AS BIGINT) AS seq_in_bucket
      |  FROM d)
      |SELECT bucket, seq_in_bucket, COUNT(*) AS n_docs,
      |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
      |FROM a GROUP BY 1, 2""".stripMargin),

    // q81: src0-4 = existing corpus, src5+ = ingest delta; a delta doc
    // is new iff its hash misses the base AND it's the delta's first
    "q81_incremental_dedup" ->
      """WITH bh AS (SELECT DISTINCT md5(text) AS h FROM documents
        |  WHERE source IN ('src0','src1','src2','src3','src4')),
        |d AS (SELECT doc_id, md5(text) AS h FROM documents
        |  WHERE source NOT IN ('src0','src1','src2','src3','src4')),
        |k AS (SELECT h, MIN(doc_id) AS keep FROM d
        |  WHERE h NOT IN (SELECT h FROM bh) GROUP BY 1)
        |SELECT d.doc_id,
        |  COALESCE(k.keep = d.doc_id, FALSE) AS is_new
        |FROM d LEFT JOIN k USING (h)""".stripMargin,

    // q82: 32-token windows every 16 (DuckDB list slice is 1-based
    // inclusive and clamps, same as Spark's slice). Chunk indices come
    // from the per-doc scalar range list — ceil(len/16) chunk starts —
    // so the bound is derived from the data; the old constant
    // range(0, 1000) silently capped docs past 16k tokens
    "q82_chunking" -> (toksCte + """,
      |ch AS (SELECT doc_id, toks,
      |    unnest(range(0, CAST(ceil(len(toks)/16.0) AS BIGINT)))
      |      AS chunk_idx FROM t),
      |c AS (SELECT doc_id, chunk_idx,
      |    toks[CAST(chunk_idx*16+1 AS BIGINT)
      |       : CAST(chunk_idx*16+32 AS BIGINT)] AS ctoks
      |  FROM ch)
      |SELECT doc_id, chunk_idx,
      |  md5(array_to_string(ctoks, ' ')) AS chunk_hash,
      |  len(ctoks) AS n_tokens
      |FROM c""".stripMargin),

    "q79_bloom_join" ->
      """SELECT o_orderpriority, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
        |    AS sum_price
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY o_orderpriority""".stripMargin,

    // q84: asymmetric containment |A∩B|/|A| in both directions; the
    // engine's xxhash64 shingle hashing is collision-free at this scale
    // so string-set intersection mirrors it exactly
    "q84_containment" -> (shinglesCte + """,
        |ds AS (SELECT doc_id, source, list_distinct(sh3) AS sh FROM sh
        |  WHERE len(sh3) > 0),
        |p AS (
        |  SELECT a.source AS block, a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |      / len(a.sh) AS c
        |  FROM ds a JOIN ds b ON a.source = b.source
        |    AND a.doc_id <> b.doc_id
        |  WHERE len(list_intersect(a.sh, b.sh)) > 0)
        |SELECT block, id_a, id_b, ROUND(c + 1e-9, 6) AS containment
        |FROM p WHERE c >= 0.05""".stripMargin),

    // q90: 2-itemset co-occurrence support over per-doc distinct tokens
    "q90_cooccurrence" -> (toksCte + """,
        |dt AS (SELECT DISTINCT doc_id, unnest(toks) AS t FROM t)
        |SELECT a.t AS t_a, b.t AS t_b, COUNT(*) AS support
        |FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.t < b.t
        |GROUP BY 1, 2 HAVING COUNT(*) >= 320""".stripMargin),

    // q88: triangles in the canonically-ordered (a<b) pair graph —
    // wedge join closed by the third edge, per block
    "q88_triangles" -> (shinglesCte + """,
        |ds AS (SELECT doc_id, source, list_distinct(sh3) AS sh FROM sh),
        |e AS (
        |  SELECT a.source AS block, a.doc_id AS a, b.doc_id AS b
        |  FROM ds a JOIN ds b ON a.source = b.source AND a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |    / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
        |    >= 0.05),
        |tri AS (
        |  SELECT e1.block, COUNT(*) AS n
        |  FROM e e1
        |  JOIN e e2 ON e1.block = e2.block AND e1.b = e2.a
        |  JOIN e e3 ON e2.block = e3.block AND e1.a = e3.a
        |    AND e2.b = e3.b
        |  GROUP BY 1)
        |SELECT b.block, COALESCE(tri.n, 0) AS n_triangles
        |FROM (SELECT DISTINCT block FROM e) b
        |LEFT JOIN tri USING (block)""".stripMargin),

    // q89: Tukey fences from exact interpolated quartiles (the same
    // p·(n−1) definition both engines share)
    "q89_iqr_outliers" ->
      """WITH q AS (SELECT quantile_cont(value, 0.25) AS q1,
        |    quantile_cont(value, 0.75) AS q3 FROM events),
        |f AS (SELECT q1 - 1.5 * (q3 - q1) AS lo,
        |    q3 + 1.5 * (q3 - q1) AS hi FROM q)
        |SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN value < lo OR value > hi THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_outliers,
        |  ROUND(lo + 1e-9, 6) AS fence_lo, ROUND(hi + 1e-9, 6) AS fence_hi
        |FROM events, f GROUP BY event_type, lo, hi""".stripMargin,

    // q127: the identical RE2-safe strip chain (no backreferences, no
    // \Q\E, 1+-quantifiers only — the corners where Java regex and RE2
    // could diverge are avoided); 'g' makes DuckDB replace globally
    // like Spark does by default, entity decode order ends with &amp;
    "q127_html_extract" -> {
      def rr(e: String, pat: String, rep: String) =
        s"regexp_replace($e, '$pat', '$rep', 'g')"
      val page = "'<html><head><style>p { margin: 0; }</style></head>" +
        "<body><h1>Doc &amp; Title</h1><p class=\"b\">' || " +
        "substr(text, 1, 200) || '</p><script>var x = 1 < 2;</script>" +
        "&nbsp;tail</body></html>'"
      val steps = Seq(
        ("(?s)<script[^>]*>.*?</script>", " "),
        ("(?s)<style[^>]*>.*?</style>", " "),
        ("<[^>]+>", " "),
        ("&nbsp;", " "),
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", "\""),
        ("&#39;", "''"),
        ("&amp;", "&"),
        ("\\s+", " "))
      val chain = steps.foldLeft(page) { case (e, (p, r)) => rr(e, p, r) }
      s"""SELECT doc_id, md5(trim($chain)) AS text_hash,
         |  CAST(length(trim($chain)) AS BIGINT) AS n_chars
         |FROM documents""".stripMargin
    },

    // q134: epoch shuffle — md5(epoch ␁ doc_id) permutation key, window
    // rank mirror of the bounded-heap first-10
    "q134_epoch_shuffle" ->
      """WITH e AS (SELECT unnest(range(0, 3)) AS epoch),
        |k AS (SELECT epoch, doc_id,
        |    md5(CAST(epoch AS VARCHAR) || chr(1) || CAST(doc_id AS VARCHAR))
        |      AS k
        |  FROM documents, e),
        |r AS (SELECT epoch, doc_id, ROW_NUMBER() OVER (
        |    PARTITION BY epoch ORDER BY k, doc_id) AS rnk FROM k)
        |SELECT CAST(epoch AS BIGINT) AS epoch, CAST(rnk AS BIGINT) AS rnk,
        |  CAST(doc_id AS BIGINT) AS doc_id FROM r WHERE rnk <= 10""".stripMargin,

    // q135: character entropy — chars via substr over a position range
    // (dialect-safe, no empty-separator split), per-term 9dp
    // canonicalization under the +1e-9 convention, DECIMAL(18,9) exact
    // sum; totals forced BIGINT before division (HUGEINT hazard)
    "q135_char_entropy" ->
      """WITH pos AS (SELECT doc_id, text,
        |    unnest(range(1, length(text) + 1)) AS i FROM documents),
        |ch AS (SELECT doc_id, substr(text, i, 1) AS ch FROM pos),
        |c AS (SELECT doc_id, ch, COUNT(*) AS n FROM ch GROUP BY 1, 2),
        |t AS (SELECT doc_id, CAST(SUM(n) AS BIGINT) AS total,
        |    COUNT(*) AS nd FROM c GROUP BY 1),
        |terms AS (SELECT c.doc_id, nd,
        |    ROUND(-(CAST(n AS DOUBLE) / total)
        |      * log2(CAST(n AS DOUBLE) / total) + 1e-9, 9) AS term
        |  FROM c JOIN t USING (doc_id))
        |SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CAST(MAX(nd) AS BIGINT) AS n_distinct_chars,
        |  ROUND(CAST(SUM(CAST(term AS DECIMAL(18,9))) AS DOUBLE) + 1e-9, 6)
        |    AS entropy_bits
        |FROM terms GROUP BY 1""".stripMargin,

    // q133: streaming dedup must converge to batch keep-first-per-hash
    // (arrival order = doc_id order, everything within the watermark)
    "q133_streaming_dedup" ->
      """SELECT md5(text) AS content_hash, CAST(MIN(doc_id) AS BIGINT)
        |  AS doc_id
        |FROM documents GROUP BY 1""".stripMargin,

    // q136: same synthetic contact-line construction, the same RE2-safe
    // patterns (DuckDB's regex IS RE2 — the patterns avoid anything
    // java.util.regex and RE2 could disagree on), and the same
    // email → IP → phone redaction order; 'g' makes regexp_replace
    // global like Spark's
    "q136_pii_redact" ->
      """WITH aug AS (SELECT source,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR)
        |      || '@example.com'
        |      || CASE WHEN doc_id % 2 = 0 THEN ' from 10.'
        |           || CAST(doc_id % 256 AS VARCHAR) || '.0.'
        |           || CAST((doc_id * 7 + 3) % 256 AS VARCHAR)
        |         ELSE '' END
        |      || CASE WHEN doc_id % 3 = 0 THEN ' call 555-'
        |           || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-'
        |           || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |         ELSE '' END AS text
        |  FROM documents),
        |r AS (SELECT source,
        |    len(regexp_extract_all(text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS ne,
        |    len(regexp_extract_all(text,
        |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS ni,
        |    len(regexp_extract_all(text,
        |      '\b\d{3}[-.]\d{3}[-.]\d{4}\b')) AS np,
        |    length(regexp_replace(regexp_replace(regexp_replace(text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |      '[EMAIL]', 'g'),
        |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g'),
        |      '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '[PHONE]', 'g')) AS rlen
        |  FROM aug)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(ne) AS BIGINT) AS n_emails,
        |  CAST(SUM(ni) AS BIGINT) AS n_ips,
        |  CAST(SUM(np) AS BIGINT) AS n_phones,
        |  CAST(SUM(rlen) AS BIGINT) AS redacted_chars
        |FROM r GROUP BY source""".stripMargin,

    // q137: pair counting over the word vocabulary with multiplicities
    // (the Spark side's Sennrich trick, mirrored); strict total order
    // (cnt DESC, pair) makes LIMIT 50 deterministic on both engines
    "q137_bpe_pairs" -> (toksCte + """,
        |wv AS (SELECT w, COUNT(*) AS wn
        |  FROM (SELECT unnest(toks) AS w FROM t)
        |  WHERE length(w) >= 2 GROUP BY w),
        |p AS (SELECT substr(w, CAST(i + 1 AS INTEGER), 2) AS pair, wn
        |  FROM (SELECT w, wn, unnest(range(0, length(w) - 1)) AS i
        |        FROM wv)),
        |c AS (SELECT pair, CAST(SUM(wn) AS BIGINT) AS cnt
        |  FROM p GROUP BY pair)
        |SELECT pair, cnt FROM c
        |ORDER BY cnt DESC, pair LIMIT 50""".stripMargin),

    // q138: trigram-shingle first-occurrence curve; MIN/COUNT only (no
    // integer SUM), so no HUGEINT coercion hazard
    "q138_vocab_growth" -> (shinglesCte + """,
        |e AS (SELECT CAST(floor(doc_id / 100.0) AS BIGINT) AS bucket,
        |    unnest(sh3) AS term FROM sh),
        |f AS (SELECT term, MIN(bucket) AS first_bucket
        |  FROM e GROUP BY term)
        |SELECT first_bucket, COUNT(*) AS new_terms
        |FROM f GROUP BY first_bucket""".stripMargin),

    // q139: index-set union — the engine's bitmap aggregate vs the
    // definitional DISTINCT; same md5-hex bucket chain as q101
    "q139_index_union" -> (toksCte + s""",
        |b AS (SELECT source,
        |    ${hex8("token")} % 512 AS bkt
        |  FROM (SELECT source, unnest(toks) AS token FROM t)),
        |u AS (SELECT DISTINCT source, bkt FROM b)
        |SELECT source, CAST(COUNT(*) AS INTEGER) AS n_buckets,
        |  string_agg(CAST(bkt AS VARCHAR), ',' ORDER BY bkt) AS buckets
        |FROM u GROUP BY source""".stripMargin),

    // q140: intercept-only Poisson MLE is exactly ln(mean(y)) — the
    // engine reaches it through the distributed LBFGS iterate
    // 5dp: the engine's LBFGS converges on the objective (tol 1e-12),
    // not the parameter — at sf1 row counts the parameter gap vs this
    // closed form crosses a 6dp boundary while agreeing at 5dp
    "q140_poisson_mle" ->
      """SELECT round(ln(avg(l_quantity)), 5) AS intercept
        |FROM lineitem""".stripMargin,

    // q150: whitening's analytic invariant — whitened covariance IS the
    // identity, so the oracle is a constant table; the engine has to do
    // the real moment/eigen/projection work to land on it
    "q150_whitening" ->
      """SELECT CAST(i AS INTEGER) AS i, CAST(j AS INTEGER) AS j,
        |  CAST(CASE WHEN i = j THEN 1.0 ELSE 0.0 END AS DOUBLE) AS cov
        |FROM (SELECT unnest(range(0, 8)) AS i) a,
        |  (SELECT unnest(range(0, 8)) AS j) b
        |WHERE i <= j""".stripMargin,

    // q148: standardized ridge — Cramer in normalized space, unfolded
    // exactly as the engine's effectiveCoef/marginShift (w = w'/s,
    // b = b' - w*m)
    "q148_norm_ridge" ->
      """WITH pts AS (SELECT CAST(embedding[3] AS DOUBLE) AS x,
        |    CAST(label AS DOUBLE) AS y FROM embeddings),
        |st AS (SELECT AVG(x) AS m, stddev_pop(x) AS s FROM pts),
        |np AS (SELECT (x - m) / s AS xs, y FROM pts, st),
        |mo AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, SUM(xs) AS sx,
        |    SUM(xs * xs) + 0.05 AS sxx, SUM(y) AS sy, SUM(xs * y) AS sxy
        |  FROM np),
        |sol AS (SELECT
        |    (sxy * n - sx * sy) / (sxx * n - sx * sx) AS wp,
        |    (sxx * sy - sx * sxy) / (sxx * n - sx * sx) AS bp
        |  FROM mo)
        |SELECT ROUND(wp / s + 1e-9, 6) AS w1,
        |  ROUND(bp - (wp / s) * m + 1e-9, 6) AS intercept
        |FROM sol, st""".stripMargin,

    // q149: Gaussian-prior posterior mode — (sxy + mu/var)/(sxx + 1/var)
    "q149_prior_ridge" ->
      """WITH m AS (SELECT
        |    SUM(CAST(embedding[4] AS DOUBLE) * CAST(label AS DOUBLE)) AS sxy,
        |    SUM(CAST(embedding[4] AS DOUBLE) * CAST(embedding[4] AS DOUBLE)) AS sxx
        |  FROM embeddings)
        |SELECT ROUND((sxy + 0.3 / 0.04) / (sxx + 1.0 / 0.04) + 1e-9, 6)
        |  AS w1
        |FROM m""".stripMargin,

    // q142: 1-D lasso closed form — soft threshold of the moment ratio;
    // the engine reaches both branches through breeze OWLQN
    "q142_owlqn_lasso" ->
      """WITH m AS (SELECT
        |    SUM(CAST(embedding[6] AS DOUBLE) * CAST(label AS DOUBLE)) AS s1,
        |    SUM(CAST(embedding[6] AS DOUBLE) * CAST(embedding[6] AS DOUBLE)) AS q1,
        |    SUM(CAST(embedding[7] AS DOUBLE) * CAST(label AS DOUBLE)) AS s2,
        |    SUM(CAST(embedding[7] AS DOUBLE) * CAST(embedding[7] AS DOUBLE)) AS q2
        |  FROM embeddings)
        |SELECT
        |  ROUND(sign(s1) * GREATEST(abs(s1) - 0.1, 0) / q1 + 1e-9, 6)
        |    AS w_active,
        |  ROUND(sign(s2) * GREATEST(abs(s2) - 100.0, 0) / q2 + 1e-9, 6)
        |    AS w_zero
        |FROM m""".stripMargin,

    // q143: 1-D box-constrained ridge closed form — clamp(s/(q+λ), lo, hi)
    "q143_lbfgsb_box" ->
      """WITH m AS (SELECT
        |    SUM(CAST(embedding[6] AS DOUBLE) * CAST(label AS DOUBLE)) AS s1,
        |    SUM(CAST(embedding[6] AS DOUBLE) * CAST(embedding[6] AS DOUBLE)) AS q1,
        |    SUM(CAST(embedding[7] AS DOUBLE) * CAST(label AS DOUBLE)) AS s2,
        |    SUM(CAST(embedding[7] AS DOUBLE) * CAST(embedding[7] AS DOUBLE)) AS q2
        |  FROM embeddings)
        |SELECT
        |  ROUND(LEAST(GREATEST(s1 / (q1 + 0.05), -10.0), 10.0) + 1e-9, 6)
        |    AS w_free,
        |  ROUND(LEAST(GREATEST(s2 / (q2 + 0.05), -0.5), 0.5) + 1e-9, 6)
        |    AS w_clamped
        |FROM m""".stripMargin,

    // q147: fixed-coefficient logistic quality gate — the q22 feature
    // mirrors; keep on the margin z >= 0 (no exp in the predicate), mean
    // score from per-doc 6dp-rounded DECIMAL probabilities
    "q147_model_quality_filter" -> (toksCte + """,
      |f AS (SELECT source,
      |  6.0 * (CASE WHEN len(toks) = 0 THEN 0.0 ELSE
      |    CAST(len(list_filter(toks, tk -> list_contains(
      |      ['the','a','of','to','and','in','is'], lower(tk)))) AS DOUBLE)
      |      / len(toks) END)
      |  + 0.8 * (CASE WHEN len(toks) = 0 THEN 0.0 ELSE
      |    CAST(length(regexp_replace(trim(text), '\s+', '', 'g'))
      |      AS DOUBLE) / len(toks) END)
      |  + 0.5 * ln(1.0 + len(toks)) - 6.0 AS z
      |  FROM t),
      |k AS (SELECT source,
      |    CAST(round(1.0 / (1.0 + exp(-z)) + 1e-9, 6) AS DECIMAL(18,6))
      |      AS p
      |  FROM f WHERE z >= 0)
      |SELECT source, COUNT(*) AS n_kept,
      |  CAST(SUM(p) AS DOUBLE) / COUNT(*) AS mean_p
      |FROM k GROUP BY source""".stripMargin),

    // q145: upper-triangle covariance of the first 8 embedding coords —
    // covar_pop (population) on both sides, q75's round convention
    "q145_embedding_covariance" ->
      """SELECT CAST(i AS INTEGER) AS i, CAST(j AS INTEGER) AS j,
        |  ROUND(covar_pop(
        |    CAST(embedding[CAST(i + 1 AS INTEGER)] AS DOUBLE),
        |    CAST(embedding[CAST(j + 1 AS INTEGER)] AS DOUBLE)) + 1e-9, 6)
        |    AS cov
        |FROM embeddings,
        |  (SELECT unnest(range(0, 8)) AS i) pi,
        |  (SELECT unnest(range(0, 8)) AS j) pj
        |WHERE i <= j GROUP BY i, j""".stripMargin,

    // q146: reciprocal-rank fusion — the q95 bm25 score (already rounded
    // to 6dp, so the rank sort key is cross-engine stable) fused with
    // the integer n_chars quality rank, both partitioned by source
    "q146_rank_fusion" -> (toksCte + """,
      |dl AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl FROM t),
      |corpus AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
      |tok AS (SELECT doc_id, unnest(toks) AS term FROM t),
      |hits AS (SELECT doc_id, term FROM tok
      |  WHERE term IN ('spark', 'window', 'hash')),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM hits GROUP BY 1, 2),
      |idf AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM hits
      |  GROUP BY 1),
      |sc AS (SELECT doc_id, CAST(round(
      |    ln(1 + (n - df + 0.5) / (df + 0.5)) * (tf * 2.2) /
      |      (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)), 9)
      |    AS DECIMAL(18,9)) AS s
      |  FROM tf JOIN idf USING (term) JOIN dl USING (doc_id), corpus),
      |b AS (SELECT doc_id, round(CAST(SUM(s) AS DOUBLE) + 1e-9, 6) AS bm25
      |  FROM sc GROUP BY 1),
      |r1 AS (SELECT b.doc_id, CAST(row_number() OVER (
      |    PARTITION BY d2.source ORDER BY bm25 DESC, b.doc_id)
      |    AS INTEGER) AS r1
      |  FROM b JOIN documents d2 ON b.doc_id = d2.doc_id),
      |r2 AS (SELECT doc_id, CAST(row_number() OVER (
      |    PARTITION BY source ORDER BY n_chars DESC, doc_id)
      |    AS INTEGER) AS r2 FROM documents)
      |SELECT r2.doc_id, r1, r2,
      |  ROUND(COALESCE(CAST(1 AS DOUBLE) / (60 + r1), 0)
      |    + CAST(1 AS DOUBLE) / (60 + r2) + 1e-9, 6) AS rrf
      |FROM r2 LEFT JOIN r1 ON r2.doc_id = r1.doc_id""".stripMargin),

    // q144: chunk→pack batch assembly — the q82 chunk CTE (64/64) feeding
    // the q80 packing window keyed by the composite chunk uid; fill_rate
    // is a power-of-two division, binary-exact on both sides
    "q144_training_batches" -> (toksCte + """,
      |f AS (SELECT doc_id, toks FROM t WHERE len(toks) >= 8),
      |ch AS (SELECT doc_id, toks,
      |    unnest(range(0, CAST(ceil(len(toks)/64.0) AS BIGINT)))
      |      AS chunk_idx FROM f),
      |c AS (SELECT CAST(doc_id AS VARCHAR) || '_' ||
      |      CAST(chunk_idx AS VARCHAR) AS uid,
      |    len(toks[CAST(chunk_idx*64+1 AS BIGINT)
      |           : CAST(chunk_idx*64+64 AS BIGINT)]) AS n_tokens
      |  FROM ch),
      |d AS (SELECT uid, n_tokens,
      |  (strpos('0123456789abcdef',
      |     substr(md5('pack_' || uid), 8, 1)) - 1) % 8 AS bucket,
      |  md5('ord_' || uid) AS ord FROM c),
      |a AS (SELECT bucket, n_tokens,
      |  CAST(floor((SUM(n_tokens) OVER (PARTITION BY bucket
      |     ORDER BY ord, uid
      |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |   - n_tokens) / 512.0) AS BIGINT) AS seq_in_bucket
      |  FROM d)
      |SELECT bucket, seq_in_bucket, COUNT(*) AS n_chunks,
      |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
      |  CAST(SUM(n_tokens) AS DOUBLE) / 512.0 AS fill_rate
      |FROM a GROUP BY 1, 2""".stripMargin),

    // q141: token-budget fill — keep longest-first while the running
    // count before the doc is under 20% of the source total; the
    // predicate is pure-integer (5·cum_before < total) on both sides
    "q141_token_budget" -> (toksCte + """,
        |n AS (SELECT doc_id, source, CAST(len(toks) AS BIGINT) AS n_tokens
        |  FROM t),
        |w AS (SELECT doc_id, source, n_tokens,
        |    COALESCE(SUM(n_tokens) OVER (PARTITION BY source
        |      ORDER BY n_tokens DESC, doc_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS cum_before,
        |    SUM(n_tokens) OVER (PARTITION BY source) AS total FROM n)
        |SELECT doc_id, source, n_tokens FROM w
        |WHERE cum_before * 5 < total""".stripMargin),

    // q132: split-leakage audit — the q60 hash-split mirror feeding the
    // q58 decontamination shape, val split as the benchmark side
    "q132_split_leakage" -> (shinglesCte + s""",
        |sp AS (SELECT doc_id, sh3, CASE WHEN f < 0.8 THEN 'train'
        |    WHEN f < 0.9 THEN 'val' ELSE 'test' END AS split
        |  FROM (SELECT doc_id, sh3, CAST(
        |    ${hex8("'split_' || CAST(doc_id AS VARCHAR)")}
        |    AS DOUBLE) / 4294967296.0 AS f FROM sh)),
        |bench AS (SELECT DISTINCT unnest(sh3) AS g FROM sp
        |  WHERE split = 'val'),
        |cand AS (SELECT DISTINCT doc_id, unnest(sh3) AS g FROM sp
        |  WHERE split = 'train'),
        |hits AS (SELECT doc_id, COUNT(*) AS n FROM cand
        |  JOIN bench USING (g) GROUP BY 1)
        |SELECT s.doc_id, COALESCE(h.n, 0) AS n_contaminated,
        |  COALESCE(h.n, 0) > 0 AS is_contaminated
        |FROM sp s LEFT JOIN hits h USING (doc_id)
        |WHERE s.split = 'train'""".stripMargin),

    // q131: join-skew advisor — per-key counts, pair contribution,
    // window-rank mirror of the bounded-heap (pairs DESC, key ASC)
    "q131_join_skew_report" ->
      """WITH c AS (SELECT l_orderkey AS key, COUNT(*) AS cnt
        |  FROM lineitem GROUP BY 1),
        |j AS (SELECT key, cnt AS cnt_left, cnt AS cnt_right,
        |    cnt * cnt AS pairs FROM c),
        |r AS (SELECT *, ROW_NUMBER() OVER (ORDER BY pairs DESC, key ASC)
        |    AS rnk FROM j)
        |SELECT CAST(rnk AS BIGINT) AS rnk, key, cnt_left, cnt_right,
        |  pairs FROM r WHERE rnk <= 10""".stripMargin,

    // q130: repeated spans — positioned 3-shingles, cross-doc set via
    // DISTINCT (doc, sh) + HAVING >= 2, overlap-merge islands with the
    // lag/running-sum construction (hits at p, q overlap iff q <= p+2);
    // all-BIGINT output
    "q130_repeated_spans" -> (toksCte + """,
        |p AS (SELECT doc_id, toks,
        |    unnest(range(1, len(toks) - 1)) AS i FROM t
        |  WHERE len(toks) >= 3),
        |shp AS (SELECT doc_id, i - 1 AS pos,
        |    toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS sh FROM p),
        |dup AS (SELECT sh FROM (SELECT DISTINCT doc_id, sh FROM shp)
        |  GROUP BY sh HAVING COUNT(*) >= 2),
        |hits AS (SELECT doc_id, pos FROM shp JOIN dup USING (sh)),
        |m AS (SELECT doc_id, pos,
        |    CASE WHEN lag(pos) OVER w IS NULL
        |      OR pos > lag(pos) OVER w + 2 THEN 1 ELSE 0 END AS nw
        |  FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        |isl AS (SELECT doc_id, pos, SUM(nw) OVER (PARTITION BY doc_id
        |    ORDER BY pos ROWS UNBOUNDED PRECEDING) AS g FROM m)
        |SELECT doc_id, MIN(pos) AS span_start,
        |  MAX(pos) + 2 AS span_end, COUNT(*) AS n_hits
        |FROM isl GROUP BY doc_id, g""".stripMargin),

    // q128: grouped top-k mirrored as a window rank — identical to the
    // engine's bounded-heap (-cnt, token) struct ordering
    "q128_top_terms_by_source" -> (toksCte + """,
        |ex AS (SELECT source, unnest(toks) AS token FROM t),
        |c AS (SELECT source, token, COUNT(*) AS cnt FROM ex GROUP BY 1, 2),
        |r AS (SELECT source, token, cnt, ROW_NUMBER() OVER (
        |    PARTITION BY source ORDER BY cnt DESC, token ASC) AS rnk
        |  FROM c)
        |SELECT source, CAST(rnk AS BIGINT) AS rnk, token, cnt
        |FROM r WHERE rnk <= 5""".stripMargin),

    // q129: aligned union = UNION ALL with explicit NULL fills
    "q129_align_union" ->
      """WITH u AS (
        |  SELECT o_orderkey AS rec_id, o_orderstatus AS status,
        |    'orders' AS origin, CAST(NULL AS VARCHAR) AS flag FROM orders
        |  UNION ALL
        |  SELECT l_orderkey, CAST(NULL AS VARCHAR), 'lineitem',
        |    l_returnflag FROM lineitem)
        |SELECT origin, COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN status IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS null_status,
        |  CAST(SUM(CASE WHEN flag IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS null_flag
        |FROM u GROUP BY 1""".stripMargin,

    // q126: Morton interleave mirrored bit for bit with >>/&/<< on
    // BIGINT (dialect-core operators); all-integer output
    "q126_zorder" -> {
      val terms = (0 until 10).map { k =>
        s"(((a >> $k) & 1) << ${2 * k}) + (((b >> $k) & 1) << ${2 * k + 1})"
      }.mkString(" + ")
      s"""WITH x AS (SELECT l_orderkey, l_linenumber,
         |    CAST(l_orderkey % 1024 AS BIGINT) AS a,
         |    CAST(l_partkey % 1024 AS BIGINT) AS b FROM lineitem)
         |SELECT l_orderkey, l_linenumber,
         |  CAST($terms AS BIGINT) AS zvalue FROM x""".stripMargin
    },

    // q125: the audio-codec gate's oracle never touches a WAV — it
    // recomputes the per-clip integer stats from the same closed-form
    // sample formula the engine encoded into its fixtures (q42o's
    // pattern for audio); positive operands only, so % is dialect-safe
    "q125_audio_stats" ->
      """WITH ids AS (SELECT unnest(range(0, 16)) AS i),
        |cfg AS (SELECT i, 8000 + i * 500 AS rate,
        |    200 + (i % 5) * 40 AS n FROM ids),
        |ts AS (SELECT i, rate, n, unnest(range(0, n)) AS t FROM cfg),
        |v AS (SELECT i, rate, n,
        |    ((t * 31 + i * 17) % 4001) - 2000 AS v FROM ts)
        |SELECT i AS media_id, CAST(rate AS INTEGER) AS sample_rate,
        |  CAST(1 AS INTEGER) AS channels, CAST(n AS BIGINT) AS n_samples,
        |  CAST(SUM(ABS(v)) AS BIGINT) AS sum_abs,
        |  CAST(MAX(ABS(v)) AS INTEGER) AS peak
        |FROM v GROUP BY i, rate, n""".stripMargin,

    // q42o: the image-codec gate's oracle never touches an image — it
    // recomputes the per-image channel sums from the same closed-form
    // pixel formula the engine encoded into its PNG fixtures, so any
    // codec/layout defect breaks the hash. CASTs keep integer sums
    // BIGINT (DuckDB integer SUM → HUGEINT → client float64)
    "q42o_multimodal_stats" ->
      """WITH ids AS (SELECT unnest(range(0, 16)) AS i),
        |dims AS (SELECT i, 8 + i % 5 AS w, 8 + i % 7 AS h FROM ids),
        |xs AS (SELECT i, w, h, unnest(range(0, w)) AS x FROM dims),
        |ys AS (SELECT i, w, h, x, unnest(range(0, h)) AS y FROM xs),
        |cs AS (SELECT i, w, h, x, y, unnest(range(0, 3)) AS c FROM ys),
        |v AS (SELECT i, w, h, c,
        |    (x*3 + y*5 + c*7 + i*11) % 256 AS v FROM cs)
        |SELECT i AS media_id, w AS width, h AS height,
        |  CAST(SUM(CASE WHEN c = 0 THEN v ELSE 0 END) AS BIGINT) AS r_sum,
        |  CAST(SUM(CASE WHEN c = 1 THEN v ELSE 0 END) AS BIGINT) AS g_sum,
        |  CAST(SUM(CASE WHEN c = 2 THEN v ELSE 0 END) AS BIGINT) AS b_sum
        |FROM v GROUP BY i, w, h""".stripMargin,

    // q83: the whole pipeline chain in one statement - quality clean
    // (q44 fragment), near-dup CC resolution (q57 fragment at t=0.1),
    // decontamination (q58 fragment), per-language manifest
    "q83_full_pipeline" ->
      """WITH RECURSIVE t AS (
        |  SELECT *, CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |    ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
        |  FROM documents),
        |hits AS (
        |  SELECT doc_id, text, source, toks, CAST(len(toks) AS INTEGER) AS n_tokens,
        |    len(list_filter(toks, tk -> list_contains(['the','and','of','to','in','is','a'], lower(tk)))) AS en,
        |    len(list_filter(toks, tk -> list_contains(['le','la','et','les','des','un','une'], lower(tk)))) AS fr,
        |    len(list_filter(toks, tk -> list_contains(['der','die','und','das','nicht','ist','ein'], lower(tk)))) AS de,
        |    len(list_filter(toks, tk -> list_contains(['el','los','y','que','en','una','por'], lower(tk)))) AS es
        |  FROM t WHERE source <> 'src0'),
        |lang AS (
        |  SELECT doc_id, text, source, toks, n_tokens, CASE
        |    WHEN en = greatest(en, fr, de, es) AND en > 0 THEN 'en'
        |    WHEN fr = greatest(en, fr, de, es) AND fr > 0 THEN 'fr'
        |    WHEN de = greatest(en, fr, de, es) AND de > 0 THEN 'de'
        |    WHEN es = greatest(en, fr, de, es) AND es > 0 THEN 'es'
        |    ELSE 'und' END AS lang_guess
        |  FROM hits),
        |k0 AS (SELECT * FROM lang
        |  WHERE n_tokens >= 5 AND lang_guess IN ('en', 'fr')),
        |kept AS (SELECT * FROM k0 WHERE doc_id IN (
        |  SELECT MIN(doc_id) FROM k0 GROUP BY md5(text))),
        |sh AS (SELECT doc_id, source, n_tokens, lang_guess,
        |    CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
        |      ELSE list_transform(range(1, len(toks) - 1),
        |        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END AS sh3
        |  FROM kept),
        |ds AS (SELECT doc_id, source, n_tokens, list_distinct(sh3) AS shd FROM sh),
        |g AS (SELECT doc_id, source, unnest(shd) AS g FROM ds),
        |cand AS (
        |  SELECT a.doc_id AS ea, b.doc_id AS eb
        |  FROM g a JOIN g b ON a.g = b.g AND a.source = b.source
        |    AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |e AS (
        |  SELECT ea, eb FROM cand
        |  JOIN ds da ON da.doc_id = cand.ea
        |  JOIN ds db ON db.doc_id = cand.eb
        |  WHERE CAST(len(list_intersect(da.shd, db.shd)) AS DOUBLE)
        |    / (len(da.shd) + len(db.shd) - len(list_intersect(da.shd, db.shd)))
        |    >= 0.1),
        |sym AS (SELECT ea AS u, eb AS v FROM e UNION SELECT eb, ea FROM e),
        |reach AS (
        |  SELECT u, v FROM sym
        |  UNION
        |  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
        |  WHERE s.v <> r.u),
        |comp AS (SELECT u AS doc_id, least(u, min(v)) AS component
        |  FROM reach GROUP BY u),
        |base AS (SELECT ds.doc_id, COALESCE(c.component, ds.doc_id) AS component,
        |    ds.n_tokens
        |  FROM ds LEFT JOIN comp c USING (doc_id)),
        |best AS (SELECT component, MAX(n_tokens) AS maxp FROM base
        |  GROUP BY component),
        |canon AS (SELECT base.component, MIN(base.doc_id) AS canonical_id
        |  FROM base JOIN best USING (component)
        |  WHERE base.n_tokens = best.maxp GROUP BY base.component),
        |surv AS (SELECT doc_id FROM base JOIN canon USING (component)
        |  WHERE base.doc_id = canon.canonical_id),
        |bench AS (SELECT DISTINCT unnest(CASE WHEN len(toks) < 3
        |    THEN CAST([] AS VARCHAR[])
        |    ELSE list_transform(range(1, len(toks) - 1),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END) AS g
        |  FROM t WHERE source = 'src0'),
        |contam AS (SELECT DISTINCT s.doc_id FROM (
        |    SELECT sh.doc_id, unnest(list_distinct(sh.sh3)) AS g FROM sh
        |    JOIN surv USING (doc_id)) s
        |  JOIN bench USING (g)),
        |final AS (SELECT k.lang_guess, k.n_tokens FROM kept k
        |  JOIN surv USING (doc_id)
        |  WHERE k.doc_id NOT IN (SELECT doc_id FROM contam))
        |SELECT lang_guess, COUNT(*) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
        |FROM final GROUP BY 1""".stripMargin,

    "q85_target_encoding" ->
      """WITH g AS (SELECT CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |    / COUNT(*) AS g FROM events),
        |s AS (SELECT event_type, SUM(CAST(value AS DECIMAL(18,2))) AS sm,
        |    COUNT(*) AS n FROM events GROUP BY 1)
        |SELECT event_id,
        |  ROUND((CAST(sm - CAST(value AS DECIMAL(18,2)) AS DOUBLE)
        |    + 10.0 * g) / (n - 1 + 10.0) + 1e-9, 6) AS loo_enc
        |FROM events JOIN s USING (event_type), g""".stripMargin,

    "q86_gap_fill" ->
      """WITH day AS (SELECT user_id, EXTRACT(hour FROM ts) AS hour
        |  FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-01'),
        |u AS (SELECT DISTINCT user_id FROM day),
        |h AS (SELECT unnest(range(0, 24)) AS hour),
        |c AS (SELECT user_id, hour, COUNT(*) AS n FROM day GROUP BY 1, 2)
        |SELECT u.user_id, h.hour, COALESCE(c.n, 0) AS n_events
        |FROM u CROSS JOIN h
        |LEFT JOIN c ON c.user_id = u.user_id AND c.hour = h.hour""".stripMargin,

    // q87: the change rows must be identified BEFORE lead() so each
    // interval ends at the NEXT CHANGE, not the next raw event
    "q87_scd2_history" ->
      """WITH x AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev
        |  FROM events),
        |ch AS (SELECT * FROM x
        |  WHERE prev IS NULL OR prev <> event_type)
        |SELECT user_id, event_type AS state, ts AS valid_from,
        |  lead(ts) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS valid_to
        |FROM ch""".stripMargin,

    "q31_precision_at_k" ->
      """WITH x AS (
        |  SELECT user_id, event_type,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY value DESC, event_id) AS rn
        |  FROM events)
        |SELECT user_id,
        |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS DOUBLE)
        |    / 3.0 AS p_at_3
        |FROM x WHERE rn <= 3 GROUP BY user_id""".stripMargin,

    "q32_auc" ->
      """WITH scored AS (
        |  SELECT CAST(embedding[1] AS DOUBLE) AS score, label >= 5 AS pos, vec_id
        |  FROM embeddings),
        |ranked AS (
        |  SELECT pos, ROW_NUMBER() OVER (ORDER BY score, vec_id) AS rn FROM scored),
        |agg AS (
        |  SELECT SUM(CASE WHEN pos THEN rn ELSE 0 END) AS sum_rn_pos,
        |    SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS p,
        |    SUM(CASE WHEN NOT pos THEN 1 ELSE 0 END) AS n
        |  FROM ranked)
        |SELECT CAST(2 * sum_rn_pos - p * (p + 1) AS DOUBLE)
        |  / CAST(2 * p * n AS DOUBLE) AS auc
        |FROM agg""".stripMargin,

    "q33_rmse" ->
      """WITH e AS (
        |  SELECT (CAST(embedding[1] AS DOUBLE) * 10.0 - CAST(label AS DOUBLE))
        |    * (CAST(embedding[1] AS DOUBLE) * 10.0 - CAST(label AS DOUBLE)) AS sq
        |  FROM embeddings)
        |SELECT ROUND(sqrt(CAST(SUM(CAST(sq AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*)), 9) AS rmse
        |FROM e""".stripMargin,

    "q35_grouped_auc" ->
      """WITH s AS (
        |  SELECT user_id, value AS score,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
        |  FROM events),
        |r AS (
        |  SELECT user_id, pos,
        |    RANK() OVER (PARTITION BY user_id ORDER BY score)
        |      + (COUNT(*) OVER (PARTITION BY user_id, score) - 1) / 2.0
        |      AS avg_rank
        |  FROM s),
        |a AS (
        |  SELECT user_id,
        |    SUM(CASE WHEN pos = 1 THEN avg_rank END) AS sumr,
        |    SUM(pos) AS p, COUNT(*) AS n
        |  FROM r GROUP BY user_id)
        |SELECT user_id,
        |  CASE WHEN p > 0 AND n > p
        |    THEN (sumr - p * (p + 1) / 2.0) / (p * (n - p))
        |    ELSE NULL END AS auc
        |FROM a""".stripMargin,

    "q36_aupr_peakf1" ->
      """WITH pts AS (
        |  SELECT CAST(embedding[1] AS DOUBLE) AS score,
        |    CASE WHEN label >= 5 THEN 1 ELSE 0 END AS pos
        |  FROM embeddings),
        |agg AS (
        |  SELECT score, CAST(SUM(pos) AS BIGINT) AS dp,
        |    CAST(SUM(1 - pos) AS BIGINT) AS dn
        |  FROM pts GROUP BY score),
        |cum AS (
        |  SELECT
        |    SUM(dp) OVER w AS tp, SUM(dn) OVER w AS fp,
        |    SUM(dp) OVER w - dp AS tp_prev, SUM(dn) OVER w - dn AS fp_prev
        |  FROM agg
        |  WINDOW w AS (ORDER BY score DESC ROWS UNBOUNDED PRECEDING)),
        |tot AS (SELECT CAST(SUM(pos) AS BIGINT) AS p FROM pts)
        |SELECT
        |  ROUND(SUM((tp - tp_prev) * 1.0 / p *
        |    (CAST(tp AS DOUBLE) / (tp + fp) +
        |     CASE WHEN tp_prev + fp_prev = 0
        |       THEN CAST(tp AS DOUBLE) / (tp + fp)
        |       ELSE CAST(tp_prev AS DOUBLE) / (tp_prev + fp_prev) END)
        |    / 2), 9) AS aupr,
        |  ROUND(MAX(2.0 * tp / (tp + fp + p)), 9) AS peak_f1
        |FROM cum, tot""".stripMargin,

    "q37_loglik_aic" ->
      """WITH pts AS (
        |  SELECT LEAST(GREATEST(
        |      1.0 / (1.0 + EXP(-CAST(embedding[1] AS DOUBLE))),
        |      1e-15), 1 - 1e-15) AS prob,
        |    CASE WHEN label >= 5 THEN 1 ELSE 0 END AS pos
        |  FROM embeddings),
        |ll AS (
        |  SELECT SUM(CASE WHEN pos = 1 THEN LN(prob)
        |    ELSE LN(1.0 - prob) END) AS v
        |  FROM pts)
        |SELECT ROUND(v, 6) AS log_lik, ROUND(2.0 * 4 - 2.0 * v, 6) AS aic
        |FROM ll""".stripMargin,

    "q34_embedding_stats" ->
      """SELECT label AS lbl, COUNT(*) AS n,
        |  MIN(CAST(embedding[1] AS DOUBLE)) AS vmin,
        |  MAX(CAST(embedding[1] AS DOUBLE)) AS vmax,
        |  CAST(SUM(CAST(CAST(embedding[1] AS DOUBLE) AS DECIMAL(18,9))) AS DOUBLE)
        |    / COUNT(*) AS vmean
        |FROM embeddings GROUP BY label""".stripMargin,

    // q151: Welch's t per event_type between md5-assigned variants. The
    // CTE chain mirrors the engine's val chain step for step so every
    // double flows through the identical IEEE expression tree; all sums
    // are decimal-exact sufficient statistics.
    "q151_ab_welch" -> {
      val vh = hex8("'exp_' || CAST(user_id AS VARCHAR)")
      s"""WITH e AS (SELECT event_type,
         |    CASE WHEN $vh < 2147483648 THEN 'A' ELSE 'B' END AS v,
         |    CAST(value AS DECIMAL(18,6)) AS y
         |  FROM events WHERE value IS NOT NULL),
         |g AS (SELECT event_type,
         |    COUNT(CASE WHEN v = 'A' THEN 1 END) AS n_a,
         |    COUNT(CASE WHEN v = 'B' THEN 1 END) AS n_b,
         |    SUM(CASE WHEN v = 'A' THEN y END) AS sa,
         |    SUM(CASE WHEN v = 'B' THEN y END) AS sb,
         |    SUM(CASE WHEN v = 'A' THEN y * y END) AS saa,
         |    SUM(CASE WHEN v = 'B' THEN y * y END) AS sbb
         |  FROM e GROUP BY event_type),
         |g2 AS (SELECT event_type, n_a, n_b,
         |    CAST(n_a AS DOUBLE) AS nad, CAST(n_b AS DOUBLE) AS nbd,
         |    CAST(sa AS DOUBLE) AS sad, CAST(sb AS DOUBLE) AS sbd,
         |    CAST(saa AS DOUBLE) AS saad, CAST(sbb AS DOUBLE) AS sbbd
         |  FROM g),
         |g3 AS (SELECT *,
         |    ((saad - sad * sad / nad) / (nad - 1.0)) / nad AS sea,
         |    ((sbbd - sbd * sbd / nbd) / (nbd - 1.0)) / nbd AS seb
         |  FROM g2),
         |g4 AS (SELECT *, sea + seb AS se2 FROM g3)
         |SELECT event_type, n_a, n_b,
         |  ROUND(sad / nad + 1e-9, 6) AS mean_a,
         |  ROUND(sbd / nbd + 1e-9, 6) AS mean_b,
         |  ROUND((sad / nad - sbd / nbd) / SQRT(se2) + 1e-9, 6) AS t_stat,
         |  ROUND(se2 * se2 / (sea * sea / (nad - 1.0)
         |    + seb * seb / (nbd - 1.0)) + 1e-9, 6) AS df_welch
         |FROM g4""".stripMargin
    },

    // q152: chi-square independence on the same variant split. Margins
    // and the grand total come from the cell table; per-cell
    // contributions are rounded to 9dp and decimal-summed (cell-order
    // independent). CAST(SUM(n) AS BIGINT) dodges the HUGEINT hazard.
    "q152_chi_square" -> {
      val vh = hex8("'exp_' || CAST(user_id AS VARCHAR)")
      s"""WITH e AS (SELECT event_type AS f,
         |    CASE WHEN $vh < 2147483648 THEN 'A' ELSE 'B' END AS v
         |  FROM events),
         |cells AS (SELECT f, v, COUNT(*) AS n FROM e
         |  WHERE f IS NOT NULL GROUP BY f, v),
         |fm AS (SELECT f, CAST(SUM(n) AS BIGINT) AS nf FROM cells GROUP BY f),
         |vm AS (SELECT v, CAST(SUM(n) AS BIGINT) AS nv FROM cells GROUP BY v),
         |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn FROM cells),
         |j AS (SELECT c.n, c.f, c.v,
         |    CAST(fm.nf AS DOUBLE) * CAST(vm.nv AS DOUBLE)
         |      / CAST(tot.nn AS DOUBLE) AS ex
         |  FROM cells c JOIN fm ON c.f = fm.f JOIN vm ON c.v = vm.v
         |  CROSS JOIN tot),
         |x AS (SELECT n, f, v, CAST(ROUND(
         |    (CAST(n AS DOUBLE) - ex) * (CAST(n AS DOUBLE) - ex) / ex
         |      + 1e-9, 9) AS DECIMAL(28,9)) AS xx
         |  FROM j)
         |SELECT CAST(SUM(n) AS BIGINT) AS n_rows, COUNT(*) AS n_cells,
         |  (COUNT(DISTINCT f) - 1) * (COUNT(DISTINCT v) - 1) AS dof,
         |  ROUND(CAST(SUM(xx) AS DOUBLE) + 1e-9, 6) AS chi2
         |FROM x""".stripMargin
    },

    // q153: deterministic Poisson bootstrap, 16 replicates. The draw is
    // an integer comparison of the 32-bit md5 hash against the Poisson(1)
    // CDF·2³² thresholds — no float parsing anywhere; replicate means are
    // exact-decimal ratios and the CI interpolates order statistics at
    // the p·(n−1) convention (0.375 / 14.625 are exact doubles).
    "q153_bootstrap_ci" -> {
      val bh = hex8(
        "'boot' || '#' || CAST(event_id AS VARCHAR) || '#' || CAST(r AS VARCHAR)")
      s"""WITH e AS (SELECT event_type, event_id,
         |    CAST(value AS DECIMAL(18,6)) AS y
         |  FROM events WHERE value IS NOT NULL),
         |reps AS (SELECT CAST(unnest(range(0, 16)) AS INTEGER) AS r),
         |d AS (SELECT event_type, r,
         |    CASE WHEN $bh < 1580030168 THEN 0
         |      WHEN $bh < 3160060337 THEN 1
         |      WHEN $bh < 3950075421 THEN 2
         |      WHEN $bh < 4213413783 THEN 3
         |      WHEN $bh < 4279248373 THEN 4
         |      ELSE 5 END AS w, y
         |  FROM e CROSS JOIN reps),
         |m AS (SELECT event_type, r,
         |    CAST(SUM(CAST(w AS DECIMAL(10,0)) * y) AS DOUBLE)
         |      / CAST(SUM(CAST(w AS DECIMAL(10,0))) AS DOUBLE) AS mv
         |  FROM d GROUP BY event_type, r
         |  HAVING SUM(CAST(w AS DECIMAL(10,0))) > 0),
         |rk AS (SELECT event_type, mv,
         |    ROW_NUMBER() OVER (PARTITION BY event_type
         |      ORDER BY mv, r) AS rn
         |  FROM m),
         |p AS (SELECT event_type, COUNT(*) AS n_replicates,
         |    MAX(CASE WHEN rn = 1 THEN mv END) AS l1,
         |    MAX(CASE WHEN rn = 2 THEN mv END) AS l2,
         |    MAX(CASE WHEN rn = 15 THEN mv END) AS h1,
         |    MAX(CASE WHEN rn = 16 THEN mv END) AS h2
         |  FROM rk GROUP BY event_type)
         |SELECT event_type, n_replicates,
         |  ROUND(l1 + 0.375 * (l2 - l1) + 1e-9, 6) AS ci_lo,
         |  ROUND(h1 + 0.625 * (h2 - h1) + 1e-9, 6) AS ci_hi
         |FROM p""".stripMargin
    },

    // q154: the oracle recomputes the canary PLANT arithmetic (slice =
    // low 8 hash bits, id = bits above), so the engine's insertion-blind
    // contains-join detection must recover the insertion ground truth
    // exactly — a false positive or missed marker breaks the hash.
    "q154_canary_audit" -> {
      val ch = hex8("'canary_' || CAST(doc_id AS VARCHAR)")
      s"""SELECT CAST(((h >> 8) % 16) AS INTEGER) AS canary_id,
         |  COUNT(*) AS n_docs
         |FROM (SELECT $ch AS h FROM documents)
         |WHERE h % 16 = 0
         |GROUP BY 1""".stripMargin
    },

    // q156: CUPED. Per-user period means rounded to 6dp and re-cast to
    // decimals make every cross-user moment an exact sum; θ and the
    // adjusted means then mirror the engine's IEEE expression order
    // through the CTE chain.
    "q156_cuped" -> {
      val vh = hex8("'exp_' || CAST(user_id AS VARCHAR)")
      s"""WITH e AS (SELECT user_id,
         |    CASE WHEN $vh < 2147483648 THEN 'A' ELSE 'B' END AS v,
         |    ts < TIMESTAMP '2024-01-15' AS pre,
         |    CAST(value AS DECIMAL(18,6)) AS y
         |  FROM events WHERE value IS NOT NULL),
         |u0 AS (SELECT user_id, MAX(v) AS v,
         |    SUM(CASE WHEN pre THEN y END) AS sx,
         |    COUNT(CASE WHEN pre THEN 1 END) AS cx,
         |    SUM(CASE WHEN NOT pre THEN y END) AS sy,
         |    COUNT(CASE WHEN NOT pre THEN 1 END) AS cy
         |  FROM e GROUP BY user_id),
         |u AS (SELECT v,
         |    CAST(ROUND(CAST(sx AS DOUBLE) / CAST(cx AS DOUBLE)
         |      + 1e-9, 6) AS DECIMAL(18,6)) AS x,
         |    CAST(ROUND(CAST(sy AS DOUBLE) / CAST(cy AS DOUBLE)
         |      + 1e-9, 6) AS DECIMAL(18,6)) AS y
         |  FROM u0 WHERE cx > 0 AND cy > 0),
         |mom AS (SELECT COUNT(*) AS n, SUM(x) AS tx, SUM(y) AS ty,
         |    SUM(x * y) AS txy, SUM(x * x) AS txx FROM u),
         |pooled AS (SELECT
         |    (CAST(n AS DOUBLE) * CAST(txy AS DOUBLE)
         |      - CAST(tx AS DOUBLE) * CAST(ty AS DOUBLE))
         |    / (CAST(n AS DOUBLE) * CAST(txx AS DOUBLE)
         |      - CAST(tx AS DOUBLE) * CAST(tx AS DOUBLE)) AS theta,
         |    CAST(tx AS DOUBLE) / CAST(n AS DOUBLE) AS mx FROM mom),
         |pv AS (SELECT v AS variant, COUNT(*) AS n_units,
         |    SUM(x) AS vx, SUM(y) AS vy FROM u GROUP BY v)
         |SELECT variant, n_units,
         |  ROUND(CAST(vy AS DOUBLE) / CAST(n_units AS DOUBLE)
         |    + 1e-9, 6) AS mean_raw,
         |  ROUND(CAST(vy AS DOUBLE) / CAST(n_units AS DOUBLE)
         |    - theta * (CAST(vx AS DOUBLE) / CAST(n_units AS DOUBLE) - mx)
         |    + 1e-9, 6) AS mean_adj,
         |  ROUND(theta + 1e-9, 6) AS theta
         |FROM pv CROSS JOIN pooled""".stripMargin
    },

    // q157: delta-method SE for a user-clustered ratio metric. Per-user
    // (s, n) pairs; variant moments are exact decimal/integer sums; the
    // variance formula is the fixed double expression both sides share.
    "q157_ratio_delta" -> {
      val vh = hex8("'exp_' || CAST(user_id AS VARCHAR)")
      s"""WITH e AS (SELECT user_id,
         |    CASE WHEN $vh < 2147483648 THEN 'A' ELSE 'B' END AS v,
         |    event_type, CAST(value AS DECIMAL(18,6)) AS y
         |  FROM events),
         |u AS (SELECT user_id, MAX(v) AS v,
         |    CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase'
         |      THEN y END), 0) AS DECIMAL(18,6)) AS s,
         |    CAST(COALESCE(SUM(CASE WHEN event_type = 'view'
         |      THEN 1 END), 0) AS BIGINT) AS c
         |  FROM e GROUP BY user_id),
         |g AS (SELECT v AS variant, COUNT(*) AS n_units,
         |    SUM(s) AS ts, CAST(SUM(c) AS BIGINT) AS tc,
         |    SUM(CAST(s AS DECIMAL(28,6)) * s) AS tss,
         |    SUM(CAST(s AS DECIMAL(28,6)) * CAST(c AS DECIMAL(12,0))) AS tsc,
         |    SUM(CAST(c AS DECIMAL(28,0)) * CAST(c AS DECIMAL(12,0))) AS tcc
         |  FROM u GROUP BY v),
         |g2 AS (SELECT variant, n_units,
         |    CAST(n_units AS DOUBLE) AS m, CAST(ts AS DOUBLE) AS tsd,
         |    CAST(tc AS DOUBLE) AS tcd, CAST(tss AS DOUBLE) AS tssd,
         |    CAST(tsc AS DOUBLE) AS tscd, CAST(tcc AS DOUBLE) AS tccd
         |  FROM g),
         |g3 AS (SELECT variant, n_units, m, tsd / tcd AS ratio,
         |    (tssd - tsd * tsd / m) / (m - 1.0) AS vs,
         |    (tscd - tsd * tcd / m) / (m - 1.0) AS cv,
         |    (tccd - tcd * tcd / m) / (m - 1.0) AS vc,
         |    tcd / m AS mc
         |  FROM g2)
         |SELECT variant, n_units, ROUND(ratio + 1e-9, 6) AS ratio,
         |  ROUND(SQRT((vs - 2.0 * ratio * cv + ratio * ratio * vc)
         |    / (m * mc * mc)) + 1e-9, 6) AS se
         |FROM g3""".stripMargin
    },

    // q159: nDCG@10 + MRR over the exact-kNN ranking (the q29 scored/
    // ranked CTEs at k=10) graded by neighbor label. Gains 2^rel−1 are
    // exact integer-valued doubles; discount terms round to 6dp before a
    // decimal sum (the q37/q61 log-precision convention), and the ideal
    // ordering re-sorts the SAME k rows by gain desc with rank tiebreak.
    "q159_ndcg_mrr" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |    label FROM embeddings),
        |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
        |c AS (SELECT vec_id AS id, v FROM e WHERE vec_id >= 5),
        |scored AS (
        |  SELECT qid, id,
        |    list_reduce(list_transform(range(1, len(v) + 1), i -> qv[i] * v[i]), (a, b) -> a + b)
        |    / sqrt(
        |      list_reduce(list_transform(range(1, len(qv) + 1), i -> qv[i] * qv[i]), (a, b) -> a + b)
        |      * list_reduce(list_transform(range(1, len(v) + 1), i -> v[i] * v[i]), (a, b) -> a + b)
        |    ) AS cosine
        |  FROM c CROSS JOIN q),
        |ranked AS (
        |  SELECT qid, id, cosine,
        |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, id) AS r
        |  FROM scored),
        |g AS (SELECT rk.qid, rk.r,
        |    CAST(e2.label AS INTEGER) AS rel,
        |    POWER(2.0, CAST(e2.label AS DOUBLE)) - 1.0 AS gain
        |  FROM ranked rk JOIN e e2 ON rk.id = e2.vec_id
        |  WHERE rk.r <= 10),
        |ig AS (SELECT qid, r, rel, gain,
        |    ROW_NUMBER() OVER (PARTITION BY qid
        |      ORDER BY gain DESC, r) AS ir
        |  FROM g),
        |agg AS (SELECT qid, COUNT(*) AS n_retrieved,
        |    SUM(CAST(ROUND(gain / log2(CAST(r AS DOUBLE) + 1.0)
        |      + 1e-9, 6) AS DECIMAL(18,6))) AS dcg,
        |    SUM(CAST(ROUND(gain / log2(CAST(ir AS DOUBLE) + 1.0)
        |      + 1e-9, 6) AS DECIMAL(18,6))) AS idcg,
        |    MIN(CASE WHEN rel >= 5 THEN r END) AS fr
        |  FROM ig GROUP BY qid)
        |SELECT qid, n_retrieved,
        |  ROUND(CASE WHEN CAST(idcg AS DOUBLE) = 0.0 THEN 0.0
        |    ELSE CAST(dcg AS DOUBLE) / CAST(idcg AS DOUBLE) END
        |    + 1e-9, 6) AS ndcg,
        |  ROUND(COALESCE(1.0 / CAST(fr AS DOUBLE), 0.0) + 1e-9, 6) AS rr
        |FROM agg""".stripMargin,

    // q160: ECE from the q115 bins' already-rounded 6dp rates — the
    // weighted |acc − conf| sum is decimal-exact over bins.
    "q160_ece" ->
      """WITH s AS (SELECT l_discount * 10 AS score,
        |    CASE WHEN l_returnflag = 'R' THEN CAST(1.0 AS DOUBLE)
        |      ELSE CAST(0.0 AS DOUBLE) END AS label FROM lineitem),
        |b AS (SELECT CAST(least(CAST(floor(score * 10) AS BIGINT), 9)
        |    AS INTEGER) AS bin, score, label FROM s),
        |bins AS (SELECT bin, COUNT(*) AS n,
        |    ROUND(CAST(SUM(CAST(score AS DECIMAL(18,9))) AS DOUBLE)
        |      / COUNT(*) + 1e-9, 6) AS mean_score,
        |    ROUND(CAST(SUM(CASE WHEN label > 0.5 THEN 1 ELSE 0 END)
        |      AS DOUBLE) / COUNT(*) + 1e-9, 6) AS pos_rate
        |  FROM b GROUP BY bin),
        |w AS (SELECT n, CAST(ROUND(abs(pos_rate - mean_score)
        |      + 1e-9, 6) AS DECIMAL(12,6))
        |    * CAST(n AS DECIMAL(12,0)) AS wd
        |  FROM bins)
        |SELECT CAST(SUM(n) AS BIGINT) AS n,
        |  ROUND(CAST(SUM(wd) AS DOUBLE) / CAST(SUM(n) AS DOUBLE)
        |    + 1e-9, 6) AS ece
        |FROM w""".stripMargin,

    // q161: k-anonymity risk report — QI combinations under the k=25
    // floor.
    "q161_k_anonymity" ->
      """SELECT c_nationkey, c_mktsegment, COUNT(*) AS n
        |FROM customer GROUP BY 1, 2 HAVING COUNT(*) < 25""".stripMargin,

    // q162: segment-lift slice finder over CUBE(event_type, hour). One
    // grouping-sets pass; the gid=3 row IS the global distribution;
    // marginals coalesce their open dim to '(all)'/-1 so neither
    // engine's NULL ordering is involved in the rank.
    "q162_segment_lift" ->
      """WITH e AS (SELECT event_type,
        |    CAST(hour(ts) AS INTEGER) AS hr,
        |    CAST(value AS DECIMAL(18,6)) AS y
        |  FROM events WHERE value IS NOT NULL),
        |c AS (SELECT event_type, hr,
        |    GROUPING(event_type, hr) AS gid, COUNT(*) AS n,
        |    SUM(y) AS s, SUM(CAST(y AS DECIMAL(28,6)) * y) AS ss
        |  FROM e GROUP BY CUBE (event_type, hr)),
        |g AS (SELECT CAST(n AS DOUBLE) AS gn, CAST(s AS DOUBLE) AS gsd,
        |    CAST(ss AS DOUBLE) AS gssd FROM c WHERE gid = 3),
        |seg AS (SELECT COALESCE(c.event_type, '(all)') AS event_type,
        |    COALESCE(c.hr, -1) AS hr, c.gid, c.n,
        |    CAST(c.s AS DOUBLE) / CAST(c.n AS DOUBLE) AS ms,
        |    (CAST(c.s AS DOUBLE) / CAST(c.n AS DOUBLE) - gsd / gn)
        |      / sqrt(((gssd - gsd * gsd / gn) / (gn - 1.0))
        |        / CAST(c.n AS DOUBLE)) AS z
        |  FROM c CROSS JOIN g WHERE c.gid < 3 AND c.n >= 100),
        |r AS (SELECT event_type, hr, gid, n,
        |    ROUND(ms + 1e-9, 6) AS mean_seg, ROUND(z + 1e-9, 6) AS z_score,
        |    ROW_NUMBER() OVER (ORDER BY ROUND(abs(z) + 1e-9, 6) DESC,
        |      gid, event_type, hr) AS rnk
        |  FROM seg)
        |SELECT event_type, hr, gid, n, mean_seg, z_score, rnk
        |FROM r WHERE rnk <= 10""".stripMargin,

    // q163: two-sample KS. The oracle may afford the single-task window
    // the engine's offset-prefix-sum machinery avoids; the statistic is
    // the same integer max |CA·nb − CB·na| with one final division.
    "q163_ks_test" ->
      """WITH v AS (SELECT value AS v,
        |    CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS sa,
        |    CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS sb
        |  FROM events
        |  WHERE value IS NOT NULL AND event_type IN ('click', 'view')),
        |c AS (SELECT v, CAST(SUM(sa) AS BIGINT) AS ca,
        |    CAST(SUM(sb) AS BIGINT) AS cb FROM v GROUP BY v),
        |tot AS (SELECT CAST(SUM(ca) AS BIGINT) AS na,
        |    CAST(SUM(cb) AS BIGINT) AS nb FROM c),
        |cum AS (SELECT CAST(SUM(ca) OVER (ORDER BY v) AS BIGINT) AS cca,
        |    CAST(SUM(cb) OVER (ORDER BY v) AS BIGINT) AS ccb FROM c)
        |SELECT na AS n_a, nb AS n_b,
        |  CAST(MAX(abs(cca * nb - ccb * na)) AS BIGINT) AS d_num,
        |  ROUND(CAST(MAX(abs(cca * nb - ccb * na)) AS DOUBLE)
        |    / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) + 1e-9, 6)
        |    AS d_stat
        |FROM cum CROSS JOIN tot GROUP BY na, nb""".stripMargin,

    // q164: Mann-Whitney with average tie ranks — 2·Σranks_A =
    // Σ ca·(2R + t + 1) stays integer; the tie-corrected z mirrors the
    // engine's expression order.
    "q164_mann_whitney" ->
      """WITH v AS (SELECT value AS v,
        |    CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS sa,
        |    CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS sb
        |  FROM events
        |  WHERE value IS NOT NULL AND event_type IN ('click', 'view')),
        |c AS (SELECT v, CAST(SUM(sa) AS BIGINT) AS ca,
        |    CAST(SUM(sb) AS BIGINT) AS cb FROM v GROUP BY v),
        |tot AS (SELECT CAST(SUM(ca) AS BIGINT) AS na,
        |    CAST(SUM(cb) AS BIGINT) AS nb FROM c),
        |cum AS (SELECT ca, cb, ca + cb AS t,
        |    CAST(SUM(ca + cb) OVER (ORDER BY v) AS BIGINT)
        |      - (ca + cb) AS before
        |  FROM c),
        |st AS (SELECT
        |    CAST(SUM(ca * (2 * before + t + 1)) AS BIGINT) AS s2,
        |    CAST(SUM(t * t * t - t) AS BIGINT) AS ties
        |  FROM cum),
        |u AS (SELECT na, nb, s2 - na * (na + 1) AS u2, ties
        |  FROM st CROSS JOIN tot)
        |SELECT na AS n_a, nb AS n_b, CAST(u2 AS BIGINT) AS u2_a,
        |  ROUND((CAST(u2 AS DOUBLE) / 2.0
        |      - CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 2.0)
        |    / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 12.0
        |      * (((CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)) + 1.0)
        |        - CAST(ties AS DOUBLE)
        |          / ((CAST(na AS DOUBLE) + CAST(nb AS DOUBLE))
        |            * ((CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)) - 1.0))))
        |    + 1e-9, 6) AS z
        |FROM u""".stripMargin,

    // q165: Gopher rule filter — every verdict is a comparison of
    // ratios of integers both engines compute identically (bigram dup
    // fraction via the q56 GROUP BY pattern, mean word length via the
    // q22 char-count mirror, stopword hits as an integer sum of
    // list_contains), so the booleans reproduce bit-for-bit and the
    // hash only ever sees longs and booleans.
    "q165_gopher_rules" -> (toksCte + """,
        |bc AS (
        |  SELECT doc_id, g, count(*) AS c
        |  FROM (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
        |          i -> toks[i] || ' ' || toks[i+1])) AS g FROM t)
        |  GROUP BY 1, 2),
        |bi AS (
        |  SELECT doc_id, 1.0 - CAST(count(*) AS DOUBLE)
        |      / CAST(sum(c) AS DOUBLE) AS dup_bg
        |  FROM bc GROUP BY doc_id),
        |m AS (
        |  SELECT t.doc_id, CAST(len(toks) AS BIGINT) AS n_words,
        |    CASE WHEN len(toks) = 0 THEN 0.0 ELSE
        |      CAST(length(regexp_replace(trim(text), '\s+', '', 'g'))
        |        AS DOUBLE) / len(toks) END AS mwl,
        |    COALESCE(bi.dup_bg, 0.0) AS dupf,
        |    (CASE WHEN list_contains(toks, 'the') THEN 1 ELSE 0 END
        |     + CASE WHEN list_contains(toks, 'a') THEN 1 ELSE 0 END
        |     + CASE WHEN list_contains(toks, 'of') THEN 1 ELSE 0 END
        |     + CASE WHEN list_contains(toks, 'to') THEN 1 ELSE 0 END
        |     + CASE WHEN list_contains(toks, 'and') THEN 1 ELSE 0 END
        |     + CASE WHEN list_contains(toks, 'in') THEN 1 ELSE 0 END
        |     + CASE WHEN list_contains(toks, 'is') THEN 1 ELSE 0 END)
        |      AS stop_hits
        |  FROM t LEFT JOIN bi ON t.doc_id = bi.doc_id)
        |SELECT doc_id, n_words,
        |  n_words BETWEEN 50 AND 100000 AS r_word_count,
        |  mwl BETWEEN 3.0 AND 10.0 AS r_mean_word_len,
        |  dupf <= 0.2 AS r_dup_bigram,
        |  stop_hits >= 2 AS r_stopwords,
        |  (n_words BETWEEN 50 AND 100000) AND (mwl BETWEEN 3.0 AND 10.0)
        |    AND dupf <= 0.2 AND stop_hits >= 2 AS keep
        |FROM m""".stripMargin),

    // q166: length-bucketed batching — the engine's salt is
    // conv(first-8-hex of md5, 16, 10) % 4, and 16^k ≡ 0 (mod 4) for
    // k ≥ 1, so only the 8th hex digit survives the modulus (the q80
    // single-digit trick). Bands and batch cuts are floors of exact
    // small-int divisions; every output column is integer.
    "q166_length_buckets" -> (toksCte + """,
        |d AS (SELECT doc_id, len(toks) AS n_tokens,
        |    CAST(floor((len(toks) - 1) / 16.0) AS BIGINT) AS band,
        |    CAST((strpos('0123456789abcdef',
        |        substr(md5('lb_' || CAST(doc_id AS VARCHAR)), 8, 1)) - 1)
        |      % 4 AS BIGINT) AS salt,
        |    md5('ord_' || CAST(doc_id AS VARCHAR)) AS ord FROM t),
        |a AS (SELECT band, salt, n_tokens,
        |    CAST(floor((row_number() OVER (PARTITION BY band, salt
        |        ORDER BY ord, doc_id) - 1) / 8.0) AS BIGINT)
        |      AS batch_in_salt FROM d)
        |SELECT band, salt, batch_in_salt,
        |  COUNT(*) AS n_docs,
        |  CAST(MAX(n_tokens) AS BIGINT) AS max_len,
        |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
        |  CAST(8 * MAX(n_tokens) - SUM(n_tokens) AS BIGINT) AS padding
        |FROM a GROUP BY 1, 2, 3""".stripMargin),

    // q167: DeLong AUC SE/CI — placements doubled-and-scaled to
    // integers on the rank surface (pos: 2·#neg-below + #neg-at, neg:
    // 2·#pos-above + #pos-at), second moments summed as BIGINT, and the
    // final variance expression mirrors the engine term-for-term.
    "q167_delong_auc" ->
      """WITH v AS (SELECT CAST(embedding[1] AS DOUBLE) AS v,
        |    CASE WHEN label >= 5 THEN 1 ELSE 0 END AS sa,
        |    CASE WHEN label < 5 THEN 1 ELSE 0 END AS sb
        |  FROM embeddings WHERE embedding[1] IS NOT NULL),
        |c AS (SELECT v, CAST(SUM(sa) AS BIGINT) AS ca,
        |    CAST(SUM(sb) AS BIGINT) AS cb FROM v GROUP BY v),
        |tot AS (SELECT CAST(SUM(ca) AS BIGINT) AS na,
        |    CAST(SUM(cb) AS BIGINT) AS nb FROM c),
        |cum AS (SELECT ca, cb,
        |    CAST(SUM(ca + cb) OVER (ORDER BY v) AS BIGINT)
        |      - (ca + cb) AS before,
        |    CAST(SUM(ca) OVER (ORDER BY v) AS BIGINT) - ca AS posb,
        |    CAST(SUM(cb) OVER (ORDER BY v) AS BIGINT) - cb AS negb
        |  FROM c),
        |st AS (SELECT na, nb,
        |    CAST(SUM(ca * (2 * before + (ca + cb) + 1)) AS BIGINT) AS s2,
        |    CAST(SUM(ca * (2 * negb + cb) * (2 * negb + cb))
        |      AS BIGINT) AS a2,
        |    CAST(SUM(cb * (2 * (na - posb - ca) + ca)
        |      * (2 * (na - posb - ca) + ca)) AS BIGINT) AS b2
        |  FROM cum CROSS JOIN tot GROUP BY na, nb),
        |d AS (SELECT na, nb, s2 - na * (na + 1) AS u2, a2, b2,
        |    CAST(na AS DOUBLE) AS nad, CAST(nb AS DOUBLE) AS nbd
        |  FROM st),
        |e AS (SELECT na, nb, nad, nbd, a2, b2,
        |    CAST(u2 AS DOUBLE) / (2.0 * nad * nbd) AS auc FROM d),
        |f AS (SELECT na, nb, auc,
        |    (CAST(a2 AS DOUBLE) / (4.0 * nbd * nbd) - nad * auc * auc)
        |      / (nad - 1.0) AS s10,
        |    (CAST(b2 AS DOUBLE) / (4.0 * nad * nad)
        |      - nbd * auc * auc) / (nbd - 1.0) AS s01,
        |    nad, nbd FROM e),
        |g AS (SELECT na, nb, auc,
        |    sqrt(s10 / nad + s01 / nbd) AS se FROM f)
        |SELECT na AS n_pos, nb AS n_neg,
        |  ROUND(auc + 1e-9, 6) AS auc, ROUND(se + 1e-9, 6) AS se,
        |  ROUND(auc - 1.959964 * se + 1e-9, 6) AS ci_lo,
        |  ROUND(auc + 1.959964 * se + 1e-9, 6) AS ci_hi
        |FROM g""".stripMargin,

    // q168: audience overlap — per-user type flags, pairwise AND
    // counted as integer products; mirrors the engine's bitmask fold
    // (flag conjunction == both bits set).
    "q168_audience_overlap" -> {
      val types = Seq("click", "view", "purchase", "error", "signup")
      val flags = types.zipWithIndex.map { case (t, i) =>
        s"MAX(CASE WHEN event_type = '$t' THEN 1 ELSE 0 END) AS c$i"
      }.mkString(",\n    ")
      val pairs = (for {
        i <- types.indices
        j <- types.indices if i < j
      } yield s"SELECT '${types(i)}' AS type_a, '${types(j)}' AS type_b, " +
        s"CAST(SUM(c$i * c$j) AS BIGINT) AS n_both FROM f")
        .mkString("\nUNION ALL ")
      s"""WITH f AS (SELECT user_id,
         |    $flags
         |  FROM events WHERE value > 150.0 GROUP BY user_id)
         |$pairs""".stripMargin
    },

    // q169: last-touch attribution — the as-of join as its declarative
    // definition (latest click ≤ purchase ts, ties by largest click
    // id), window test applied after; lag stays exact integer micros.
    "q169_attribution" ->
      """WITH p AS (SELECT event_id AS purchase_id, user_id, ts
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT event_id AS click_id, user_id, ts AS click_ts
        |  FROM events WHERE event_type = 'click'),
        |j AS (SELECT p.purchase_id, p.user_id, p.ts,
        |    c.click_id, c.click_ts,
        |    ROW_NUMBER() OVER (PARTITION BY p.purchase_id
        |      ORDER BY c.click_ts DESC, c.click_id DESC) AS rn
        |  FROM p LEFT JOIN c
        |    ON p.user_id = c.user_id AND c.click_ts <= p.ts)
        |SELECT purchase_id, user_id,
        |  (click_ts IS NOT NULL
        |    AND click_ts > ts - INTERVAL 24 HOUR) AS attributed,
        |  CASE WHEN click_ts IS NOT NULL
        |      AND click_ts > ts - INTERVAL 24 HOUR
        |    THEN click_id END AS attributed_click_id,
        |  CASE WHEN click_ts IS NOT NULL
        |      AND click_ts > ts - INTERVAL 24 HOUR
        |    THEN epoch_us(ts) - epoch_us(click_ts) END AS lag_us
        |FROM j WHERE rn = 1""".stripMargin,

    // q170: seasonal anomaly — bucket means from decimal-exact sums,
    // baseline moments over 9dp-decimal bucket means (order-independent
    // variance), z and the flag mirrored as identical double
    // expressions.
    "q170_seasonal_anomaly" ->
      """WITH e AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(hour(ts) AS INTEGER) AS hr, value
        |  FROM events WHERE value IS NOT NULL),
        |b AS (SELECT event_type, day, hr, COUNT(*) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
        |      / CAST(COUNT(*) AS DOUBLE) AS bm
        |  FROM e GROUP BY 1, 2, 3),
        |s AS (SELECT event_type, hr, COUNT(*) AS bn,
        |    CAST(SUM(CAST(ROUND(bm, 9) AS DECIMAL(18,9)))
        |      AS DECIMAL(28,9)) AS bs,
        |    CAST(SUM(CAST(ROUND(bm * bm, 9) AS DECIMAL(18,9)))
        |      AS DECIMAL(28,9)) AS bss
        |  FROM b GROUP BY 1, 2),
        |j AS (SELECT b.event_type, b.day, b.hr, b.n, b.bm,
        |    CAST(bn AS DOUBLE) AS bnd, CAST(bs AS DOUBLE) AS bsd,
        |    CAST(bss AS DOUBLE) AS bssd
        |  FROM b JOIN s ON b.event_type = s.event_type AND b.hr = s.hr),
        |z AS (SELECT event_type, day, hr, n, bm,
        |    (bm - bsd / bnd)
        |      / sqrt((bssd - bsd * bsd / bnd) / (bnd - 1.0)) AS zv
        |  FROM j)
        |SELECT event_type, day, hr, n,
        |  ROUND(bm + 1e-9, 6) AS mean_bucket,
        |  ROUND(zv + 1e-9, 6) AS z_score,
        |  abs(zv) > 2.0 AS is_anomaly
        |FROM z""".stripMargin,

    // q171: Cohen's kappa — the q23 langId mirror feeds a confusion
    // matrix; kappa stays integer to the last division (n·agree −
    // Σ row·col over n² − Σ row·col), both integer terms emitted.
    "q171_lang_kappa" -> (toksCte + """,
        |hits AS (
        |  SELECT doc_id, lang,
        |    len(list_filter(toks, tk -> list_contains(['the','and','of','to','in','is','a'], lower(tk)))) AS en,
        |    len(list_filter(toks, tk -> list_contains(['le','la','et','les','des','un','une'], lower(tk)))) AS fr,
        |    len(list_filter(toks, tk -> list_contains(['der','die','und','das','nicht','ist','ein'], lower(tk)))) AS de,
        |    len(list_filter(toks, tk -> list_contains(['el','los','y','que','en','una','por'], lower(tk)))) AS es
        |  FROM t),
        |g AS (SELECT lang AS actual, CASE
        |    WHEN en = greatest(en, fr, de, es) AND en > 0 THEN 'en'
        |    WHEN fr = greatest(en, fr, de, es) AND fr > 0 THEN 'fr'
        |    WHEN de = greatest(en, fr, de, es) AND de > 0 THEN 'de'
        |    WHEN es = greatest(en, fr, de, es) AND es > 0 THEN 'es'
        |    ELSE 'und' END AS pred
        |  FROM hits),
        |conf AS (SELECT actual, pred, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM g GROUP BY 1, 2),
        |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN actual = pred THEN cnt ELSE 0 END)
        |      AS BIGINT) AS agree FROM conf),
        |rm AS (SELECT actual AS c, CAST(SUM(cnt) AS BIGINT) AS r
        |  FROM conf GROUP BY 1),
        |cm AS (SELECT pred AS c, CAST(SUM(cnt) AS BIGINT) AS p
        |  FROM conf GROUP BY 1),
        |rc AS (SELECT CAST(SUM(COALESCE(r, 0) * COALESCE(p, 0))
        |    AS BIGINT) AS src
        |  FROM rm FULL JOIN cm USING (c))
        |SELECT n, agree AS n_agree,
        |  n * agree - src AS kappa_num, n * n - src AS kappa_den,
        |  ROUND(CAST(agree AS DOUBLE) / n + 1e-9, 6) AS accuracy,
        |  ROUND(CAST(n * agree - src AS DOUBLE) / (n * n - src)
        |    + 1e-9, 6) AS kappa
        |FROM tot, rc""".stripMargin),

    // q172: Zipf slope — q110's vocabulary CTE at k=100; per-term ln
    // values round to 9dp decimals before the sums (absorbing libm/JVM
    // log ulp differences), and the closed-form OLS slope mirrors as
    // one double expression.
    "q172_zipf_slope" -> (toksCte + """,
        |c AS (SELECT token, COUNT(*) AS cnt FROM (
        |    SELECT unnest(toks) AS token FROM t) GROUP BY token),
        |r AS (SELECT token, cnt,
        |    row_number() OVER (ORDER BY cnt DESC, token ASC) AS id FROM c),
        |v AS (SELECT CAST(id AS DOUBLE) AS xr, CAST(cnt AS DOUBLE) AS yf
        |  FROM r WHERE id <= 100),
        |a AS (SELECT COUNT(*) AS k,
        |    CAST(SUM(CAST(ROUND(ln(xr), 9) AS DECIMAL(18,9)))
        |      AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(ROUND(ln(yf), 9) AS DECIMAL(18,9)))
        |      AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(ROUND(ln(xr) * ln(yf), 9) AS DECIMAL(18,9)))
        |      AS DOUBLE) AS sxy,
        |    CAST(SUM(CAST(ROUND(ln(xr) * ln(xr), 9) AS DECIMAL(18,9)))
        |      AS DOUBLE) AS sxx
        |  FROM v),
        |b AS (SELECT k,
        |    (CAST(k AS DOUBLE) * sxy - sx * sy)
        |      / (CAST(k AS DOUBLE) * sxx - sx * sx) AS slope,
        |    sx, sy FROM a)
        |SELECT CAST(k AS BIGINT) AS n_terms,
        |  ROUND(slope + 1e-9, 6) AS zipf_slope,
        |  ROUND((sy - slope * sx) / CAST(k AS DOUBLE) + 1e-9, 6)
        |    AS intercept
        |FROM b""".stripMargin),

    // q173: linear multi-touch attribution — declarative inequality
    // join mirror of the bucketized pair join; 1/n rounds to a 9dp
    // decimal BEFORE summing so per-click totals are order-independent.
    "q173_linear_attribution" ->
      """WITH p AS (SELECT event_id AS pid, user_id, ts FROM events
        |  WHERE event_type = 'purchase'),
        |c AS (SELECT event_id AS click_id, user_id, ts AS cts
        |  FROM events WHERE event_type = 'click'),
        |pr AS (SELECT pid, click_id FROM p JOIN c
        |  ON p.user_id = c.user_id
        |  AND c.cts > p.ts - INTERVAL 24 HOUR AND c.cts <= p.ts),
        |nn AS (SELECT pid, COUNT(*) AS n FROM pr GROUP BY 1),
        |cr AS (SELECT click_id,
        |    CAST(ROUND(CAST(1.0 AS DOUBLE) / n, 9) AS DECIMAL(18,9))
        |      AS credit
        |  FROM pr JOIN nn USING (pid))
        |SELECT click_id, CAST(COUNT(*) AS BIGINT) AS n_conversions,
        |  ROUND(CAST(SUM(credit) AS DOUBLE) + 1e-9, 6) AS total_credit
        |FROM cr GROUP BY 1""".stripMargin,

    // q174: per-user tenure — gaps in exact integer micros; only the
    // mean divides, tenure floors an exact integer difference.
    "q174_user_tenure" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_id
        |  FROM events),
        |g AS (SELECT user_id, t, t - lag(t) OVER (PARTITION BY user_id
        |    ORDER BY t, event_id) AS gap FROM e)
        |SELECT user_id, COUNT(*) AS n_events,
        |  CAST(floor((MAX(t) - MIN(t)) / 86400000000.0) AS BIGINT)
        |    AS tenure_days,
        |  CAST(MAX(gap) AS BIGINT) AS max_gap_us,
        |  ROUND(CAST(SUM(gap) AS DOUBLE) / COUNT(gap) / 1000000.0
        |    + 1e-9, 3) AS mean_gap_s
        |FROM g GROUP BY user_id""".stripMargin,

    // q175: Benford audit — the digit comes from the INTEGER string of
    // round(value·100) (never a float format); expectations and χ²
    // terms mirror as fixed double expressions over exact counts.
    "q175_benford" ->
      """WITH d AS (SELECT CAST(substr(CAST(CAST(round(value * 100, 0)
        |      AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS digit
        |  FROM events WHERE value IS NOT NULL AND value > 0),
        |c AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_obs
        |  FROM d GROUP BY 1),
        |t AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n FROM c),
        |x AS (SELECT digit, n_obs,
        |    CAST(n AS DOUBLE) * ln(CAST(1.0 AS DOUBLE)
        |      + CAST(1.0 AS DOUBLE) / CAST(digit AS DOUBLE))
        |      / ln(CAST(10.0 AS DOUBLE)) AS ex
        |  FROM c, t)
        |SELECT digit, n_obs, ROUND(ex + 1e-9, 6) AS expected,
        |  ROUND((CAST(n_obs AS DOUBLE) - ex) * (CAST(n_obs AS DOUBLE) - ex)
        |    / ex + 1e-9, 6) AS chi2_term
        |FROM x""".stripMargin,

    // q176: first-order transition matrix — per-user lag pairs, exact
    // count ratios.
    "q176_transitions" ->
      """WITH p AS (SELECT event_type, lag(event_type) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |c AS (SELECT prev AS prev_type, event_type,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM p WHERE prev IS NOT NULL GROUP BY 1, 2),
        |r AS (SELECT prev_type, CAST(SUM(n) AS BIGINT) AS rt
        |  FROM c GROUP BY 1)
        |SELECT prev_type, event_type, n,
        |  ROUND(CAST(n AS DOUBLE) / CAST(rt AS DOUBLE) + 1e-9, 6) AS prob
        |FROM c JOIN r USING (prev_type)""".stripMargin,

    // q177: curation v2 composition — the q165 keep mirror as a filter,
    // the q20 keeper shape, the q58 overlap at n=4 (3-grams saturate
    // this 31-token vocabulary; 4-grams leave a meaningful survivor
    // set), one manifest.
    "q177_curation_v2" -> (toksCte + """,
        |s4 AS (
        |  SELECT doc_id, source, CASE WHEN len(toks) < 4
        |    THEN CAST([] AS VARCHAR[])
        |    ELSE list_transform(range(1, len(toks) - 2),
        |      i -> array_to_string(toks[i : i + 3], ' ')) END AS sh4
        |  FROM t),
        |bc AS (
        |  SELECT doc_id, g, count(*) AS c
        |  FROM (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
        |          i -> toks[i] || ' ' || toks[i+1])) AS g FROM t)
        |  GROUP BY 1, 2),
        |bi AS (
        |  SELECT doc_id, 1.0 - CAST(count(*) AS DOUBLE)
        |      / CAST(sum(c) AS DOUBLE) AS dup_bg
        |  FROM bc GROUP BY doc_id),
        |ruled AS (
        |  SELECT t.* FROM t LEFT JOIN bi ON t.doc_id = bi.doc_id
        |  WHERE len(toks) BETWEEN 50 AND 100000
        |    AND (CASE WHEN len(toks) = 0 THEN 0.0 ELSE
        |      CAST(length(regexp_replace(trim(text), '\s+', '', 'g'))
        |        AS DOUBLE) / len(toks) END) BETWEEN 3.0 AND 10.0
        |    AND COALESCE(bi.dup_bg, 0.0) <= 0.2
        |    AND (CASE WHEN list_contains(toks, 'the') THEN 1 ELSE 0 END
        |     + CASE WHEN list_contains(toks, 'a') THEN 1 ELSE 0 END
        |     + CASE WHEN list_contains(toks, 'of') THEN 1 ELSE 0 END
        |     + CASE WHEN list_contains(toks, 'to') THEN 1 ELSE 0 END
        |     + CASE WHEN list_contains(toks, 'and') THEN 1 ELSE 0 END
        |     + CASE WHEN list_contains(toks, 'in') THEN 1 ELSE 0 END
        |     + CASE WHEN list_contains(toks, 'is') THEN 1 ELSE 0 END)
        |      >= 2),
        |k AS (SELECT md5(text) AS h, MIN(doc_id) AS keep
        |  FROM ruled GROUP BY 1),
        |dd AS (SELECT r.* FROM ruled r
        |  JOIN k ON md5(r.text) = k.h AND r.doc_id = k.keep),
        |bench AS (SELECT DISTINCT unnest(sh4) AS g FROM s4
        |  WHERE source = 'src0'),
        |hits AS (SELECT DISTINCT c.doc_id FROM (
        |    SELECT s4.doc_id, unnest(s4.sh4) AS g FROM s4
        |    JOIN dd ON s4.doc_id = dd.doc_id
        |    WHERE dd.source <> 'src0') c
        |  JOIN bench USING (g)),
        |fin AS (SELECT * FROM dd WHERE source <> 'src0'
        |  AND doc_id NOT IN (SELECT doc_id FROM hits))
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(len(toks)) AS BIGINT) AS n_tokens
        |FROM fin GROUP BY source""".stripMargin),

    // q178: BPE-ish regex token accounting — RE2-safe class patterns
    // (letter/digit/punct runs, no lookahead) so Java regex and RE2
    // agree; whitespace tokens mirror the toksCte convention on a
    // dense string (props never blank after the null filter).
    "q178_regex_tokens" ->
      """WITH e AS (SELECT event_type, props,
        |    CASE WHEN length(trim(props)) = 0 THEN 0
        |      ELSE len(regexp_split_to_array(trim(props), '\s+')) END
        |      AS ws,
        |    len(regexp_extract_all(props,
        |      '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+')) AS bpe,
        |    len(regexp_extract_all(props, '[A-Za-z]+')) AS al,
        |    len(regexp_extract_all(props, '[0-9]+')) AS dg,
        |    len(regexp_extract_all(props, '[^A-Za-z0-9\s]+')) AS pu
        |  FROM events WHERE props IS NOT NULL)
        |SELECT event_type, COUNT(*) AS n_rows,
        |  CAST(SUM(ws) AS BIGINT) AS n_ws_tokens,
        |  CAST(SUM(bpe) AS BIGINT) AS n_bpe_pieces,
        |  CAST(SUM(al) AS BIGINT) AS n_alpha_runs,
        |  CAST(SUM(dg) AS BIGINT) AS n_digit_runs,
        |  CAST(SUM(pu) AS BIGINT) AS n_punct_runs
        |FROM e GROUP BY event_type""".stripMargin,

    // q179: sliding distinct — the same hour/user collapse then ×6
    // window expansion; window starts are exact epoch-hour integers.
    "q179_sliding_distinct" ->
      """WITH hu AS (SELECT CAST(floor(epoch_us(ts) / 3600000000.0)
        |      AS BIGINT) AS h, user_id, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |x AS (SELECT user_id, n,
        |    unnest(range(h - 5, h + 1)) AS w FROM hu)
        |SELECT make_timestamp(w * 3600000000) AS window_start,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
        |  CAST(SUM(n) AS BIGINT) AS n_events
        |FROM x GROUP BY w""".stripMargin,

    // q180: point-in-time feature store — q59's correlated-subquery
    // as-of definition, twice, same (ts DESC, event_id DESC) ties.
    "q180_feature_store" ->
      """SELECT p.event_id AS purchase_id, p.user_id,
        |  p.value AS label_value,
        |  (SELECT c.value FROM events c WHERE c.event_type = 'click'
        |    AND c.user_id = p.user_id AND c.ts <= p.ts
        |    ORDER BY c.ts DESC, c.event_id DESC LIMIT 1) AS f_click_value,
        |  (SELECT v.value FROM events v WHERE v.event_type = 'view'
        |    AND v.user_id = p.user_id AND v.ts <= p.ts
        |    ORDER BY v.ts DESC, v.event_id DESC LIMIT 1) AS f_view_value
        |FROM events p WHERE p.event_type = 'purchase'""".stripMargin,

    // q181: per-source rule report — the q165 verdicts aggregated;
    // rates are exact count ratios.
    "q181_rule_report" -> (toksCte + """,
        |bc AS (
        |  SELECT doc_id, g, count(*) AS c
        |  FROM (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
        |          i -> toks[i] || ' ' || toks[i+1])) AS g FROM t)
        |  GROUP BY 1, 2),
        |bi AS (
        |  SELECT doc_id, 1.0 - CAST(count(*) AS DOUBLE)
        |      / CAST(sum(c) AS DOUBLE) AS dup_bg
        |  FROM bc GROUP BY doc_id),
        |m AS (
        |  SELECT t.source,
        |    len(toks) BETWEEN 50 AND 100000 AS r_wc,
        |    (CASE WHEN len(toks) = 0 THEN 0.0 ELSE
        |      CAST(length(regexp_replace(trim(text), '\s+', '', 'g'))
        |        AS DOUBLE) / len(toks) END) BETWEEN 3.0 AND 10.0 AS r_ml,
        |    COALESCE(bi.dup_bg, 0.0) <= 0.2 AS r_db,
        |    (CASE WHEN list_contains(toks, 'the') THEN 1 ELSE 0 END
        |     + CASE WHEN list_contains(toks, 'a') THEN 1 ELSE 0 END
        |     + CASE WHEN list_contains(toks, 'of') THEN 1 ELSE 0 END
        |     + CASE WHEN list_contains(toks, 'to') THEN 1 ELSE 0 END
        |     + CASE WHEN list_contains(toks, 'and') THEN 1 ELSE 0 END
        |     + CASE WHEN list_contains(toks, 'in') THEN 1 ELSE 0 END
        |     + CASE WHEN list_contains(toks, 'is') THEN 1 ELSE 0 END)
        |      >= 2 AS r_sw
        |  FROM t LEFT JOIN bi ON t.doc_id = bi.doc_id)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN r_wc AND r_ml AND r_db AND r_sw
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
        |  ROUND(CAST(SUM(CASE WHEN r_wc THEN 1 ELSE 0 END) AS DOUBLE)
        |    / COUNT(*) + 1e-9, 6) AS rate_word_count,
        |  ROUND(CAST(SUM(CASE WHEN r_ml THEN 1 ELSE 0 END) AS DOUBLE)
        |    / COUNT(*) + 1e-9, 6) AS rate_mean_word_len,
        |  ROUND(CAST(SUM(CASE WHEN r_db THEN 1 ELSE 0 END) AS DOUBLE)
        |    / COUNT(*) + 1e-9, 6) AS rate_dup_bigram,
        |  ROUND(CAST(SUM(CASE WHEN r_sw THEN 1 ELSE 0 END) AS DOUBLE)
        |    / COUNT(*) + 1e-9, 6) AS rate_stopwords
        |FROM m GROUP BY source""".stripMargin),

    // q182: spatial radius join as its declarative definition (distance
    // cross join) — the engine's grid-cell candidates must agree
    // exactly; literals CAST to DOUBLE so DuckDB never compares in
    // DECIMAL.
    "q182_spatial_join" ->
      """WITH p AS (SELECT vec_id, CAST(embedding[1] AS DOUBLE) AS x,
        |    CAST(embedding[2] AS DOUBLE) AS y
        |  FROM embeddings)
        |SELECT a.vec_id AS a, b.vec_id AS b,
        |  ROUND(sqrt((a.x - b.x) * (a.x - b.x)
        |    + (a.y - b.y) * (a.y - b.y)) + 1e-9, 6) AS dist
        |FROM p a JOIN p b ON a.vec_id < b.vec_id
        |  AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
        |    <= CAST(0.02 AS DOUBLE) * CAST(0.02 AS DOUBLE)""".stripMargin,

    // q183: hash-collision audit — conv(first-8-hex, 16, 10) % 16
    // reduces to the 8th hex digit's value (16^k ≡ 0 mod 16 for
    // k ≥ 1), the q80/q166 single-digit trick; the key separator is
    // the vectorizer's .
    "q183_hash_collisions" -> (toksCte + """,
        |k AS (SELECT DISTINCT unnest(toks) AS term FROM t),
        |b AS (SELECT (strpos('0123456789abcdef',
        |    substr(md5('tok' || chr(1) || term), 8, 1)) - 1) % 16
        |    AS bucket FROM k)
        |SELECT CAST(bucket AS BIGINT) AS bucket,
        |  COUNT(*) AS n_keys, COUNT(*) > 1 AS collided
        |FROM b GROUP BY 1""".stripMargin),

    // q184: Gini of per-user event counts — sorted-data identity over
    // the per-value count surface, integer to the last division.
    "q184_engagement_gini" ->
      """WITH x AS (SELECT user_id, COUNT(*) AS c FROM events
        |  GROUP BY 1),
        |cv AS (SELECT c AS v, CAST(COUNT(*) AS BIGINT) AS m
        |  FROM x GROUP BY 1),
        |cum AS (SELECT v, m,
        |    CAST(SUM(m) OVER (ORDER BY v) AS BIGINT) - m AS b FROM cv),
        |st AS (SELECT CAST(SUM(m) AS BIGINT) AS n,
        |    CAST(SUM(v * m) AS BIGINT) AS s,
        |    CAST(SUM(v * m * (2 * b + m + 1)) AS BIGINT) AS a
        |  FROM cum)
        |SELECT n, a - (n + 1) * s AS gini_num, n * s AS gini_den,
        |  ROUND(CAST(a - (n + 1) * s AS DOUBLE)
        |    / CAST(n * s AS DOUBLE) + 1e-9, 6) AS gini
        |FROM st""".stripMargin,

    // q185: Kaplan-Meier — exact integer risk sets; the product-limit
    // estimator mirrors as an ordered ln-sum so the running product's
    // summation order (and therefore every double) is identical.
    "q185_kaplan_meier" ->
      """WITH pur AS (SELECT user_id, epoch_us(ts) AS t, event_id
        |  FROM events WHERE event_type = 'purchase'),
        |h AS (SELECT MAX(epoch_us(ts)) AS hmax FROM events),
        |g AS (SELECT t, lead(t) OVER (PARTITION BY user_id
        |    ORDER BY t, event_id) AS nxt FROM pur),
        |p AS (SELECT CAST(floor((COALESCE(nxt, hmax) - t)
        |      / 3600000000.0) AS BIGINT) AS dur_hours,
        |    CASE WHEN nxt IS NOT NULL THEN 1 ELSE 0 END AS ev
        |  FROM g, h),
        |b AS (SELECT dur_hours, CAST(SUM(ev) AS BIGINT) AS n_events,
        |    CAST(SUM(1 - ev) AS BIGINT) AS n_censored
        |  FROM p GROUP BY 1),
        |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM p),
        |c AS (SELECT dur_hours, n_events, n_censored,
        |    total - (CAST(SUM(n_events + n_censored) OVER (
        |        ORDER BY dur_hours) AS BIGINT)
        |      - (n_events + n_censored)) AS n_at_risk
        |  FROM b, t),
        |s AS (SELECT dur_hours, n_at_risk, n_events, n_censored,
        |    n_events = n_at_risk AS dead,
        |    CASE WHEN n_events = n_at_risk THEN 0.0
        |      ELSE ln(1.0 - CAST(n_events AS DOUBLE)
        |        / CAST(n_at_risk AS DOUBLE)) END AS term
        |  FROM c)
        |SELECT dur_hours, n_at_risk, n_events, n_censored,
        |  CASE WHEN CAST(MAX(CASE WHEN dead THEN 1 ELSE 0 END)
        |      OVER (ORDER BY dur_hours) AS INTEGER) = 1 THEN 0.0
        |    ELSE ROUND(exp(CAST(SUM(term) OVER (ORDER BY dur_hours)
        |      AS DOUBLE)) + 1e-9, 6) END AS surv
        |FROM s""".stripMargin,

    // q186: log-rank on the q185 surface — integer risk sets, expected
    // deaths and hypergeometric variance as 9dp-decimal term sums, the
    // final z a mirrored double expression.
    "q186_logrank" ->
      """WITH pur AS (SELECT user_id, epoch_us(ts) AS t, event_id,
        |    CASE WHEN value > 100.0 THEN 1 ELSE 0 END AS g1
        |  FROM events WHERE event_type = 'purchase'),
        |h AS (SELECT MAX(epoch_us(ts)) AS hmax FROM events),
        |g AS (SELECT t, g1, lead(t) OVER (PARTITION BY user_id
        |    ORDER BY t, event_id) AS nxt FROM pur),
        |p AS (SELECT CAST(floor((COALESCE(nxt, hmax) - t)
        |      / 3600000000.0) AS BIGINT) AS dur_hours,
        |    CASE WHEN nxt IS NOT NULL THEN 1 ELSE 0 END AS ev, g1
        |  FROM g, h),
        |b AS (SELECT dur_hours, CAST(SUM(ev) AS BIGINT) AS d,
        |    CAST(SUM(ev * g1) AS BIGINT) AS d1,
        |    CAST(COUNT(*) AS BIGINT) AS m,
        |    CAST(SUM(g1) AS BIGINT) AS m1
        |  FROM p GROUP BY 1),
        |tt AS (SELECT CAST(COUNT(*) AS BIGINT) AS total,
        |    CAST(SUM(g1) AS BIGINT) AS total1 FROM p),
        |c AS (SELECT dur_hours, d, d1,
        |    total - (CAST(SUM(m) OVER (ORDER BY dur_hours) AS BIGINT)
        |      - m) AS n,
        |    total1 - (CAST(SUM(m1) OVER (ORDER BY dur_hours) AS BIGINT)
        |      - m1) AS n1
        |  FROM b, tt),
        |e AS (SELECT d1,
        |    CAST(ROUND(CAST(d AS DOUBLE) * CAST(n1 AS DOUBLE)
        |      / CAST(n AS DOUBLE), 9) AS DECIMAL(18,9)) AS e1,
        |    CAST(ROUND(CASE WHEN n > 1 THEN
        |      CAST(d AS DOUBLE) * (CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE))
        |      * (1.0 - CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE))
        |      * (CAST(n AS DOUBLE) - CAST(d AS DOUBLE))
        |      / (CAST(n AS DOUBLE) - 1.0) ELSE 0.0 END, 9)
        |      AS DECIMAL(18,9)) AS v
        |  FROM c),
        |f AS (SELECT CAST(SUM(d1) AS BIGINT) AS o1,
        |    CAST(SUM(e1) AS DECIMAL(28,9)) AS se,
        |    CAST(SUM(v) AS DECIMAL(28,9)) AS sv FROM e)
        |SELECT o1, ROUND(CAST(se AS DOUBLE) + 1e-9, 6) AS e1,
        |  ROUND((CAST(o1 AS DOUBLE) - CAST(se AS DOUBLE))
        |    / sqrt(CAST(sv AS DOUBLE)) + 1e-9, 6) AS z
        |FROM f""".stripMargin,

    // q187: DiD — decimal-exact unit-period sums, deltas as exactly-
    // representable doubles, 9dp-decimal moment sums, Welch SE.
    "q187_did" ->
      """WITH u AS (SELECT user_id,
        |    CAST(SUM(CASE WHEN day(ts) <= 15
        |      THEN CAST(value AS DECIMAL(18,2))
        |      ELSE CAST(0 AS DECIMAL(18,2)) END) AS DECIMAL(28,2)) AS pre,
        |    CAST(SUM(CASE WHEN day(ts) > 15
        |      THEN CAST(value AS DECIMAL(18,2))
        |      ELSE CAST(0 AS DECIMAL(18,2)) END) AS DECIMAL(28,2)) AS post
        |  FROM events
        |  WHERE event_type = 'purchase' AND value IS NOT NULL
        |  GROUP BY 1),
        |dl AS (SELECT user_id % 2 = 0 AS treated,
        |    CAST(post - pre AS DOUBLE) AS delta FROM u),
        |g AS (SELECT treated, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(ROUND(delta, 9) AS DECIMAL(18,9)))
        |      AS DECIMAL(28,9)) AS s,
        |    CAST(SUM(CAST(ROUND(delta * delta, 9) AS DECIMAL(18,9)))
        |      AS DECIMAL(28,9)) AS ss
        |  FROM dl GROUP BY 1),
        |tt AS (SELECT n AS n_t, CAST(s AS DOUBLE) AS st,
        |    CAST(ss AS DOUBLE) AS sst FROM g WHERE treated),
        |cc AS (SELECT n AS n_c, CAST(s AS DOUBLE) AS sc,
        |    CAST(ss AS DOUBLE) AS ssc FROM g WHERE NOT treated),
        |f AS (SELECT n_t, n_c,
        |    st / n_t - sc / n_c AS eff,
        |    sqrt(((sst - st * st / n_t) / (n_t - 1.0)) / n_t
        |      + ((ssc - sc * sc / n_c) / (n_c - 1.0)) / n_c) AS se
        |  FROM tt, cc)
        |SELECT n_t, n_c, ROUND(eff + 1e-9, 6) AS did_effect,
        |  ROUND(se + 1e-9, 6) AS se,
        |  ROUND(eff / se + 1e-9, 6) AS t_stat
        |FROM f""".stripMargin,

    // q188: coverage diagnostics — integer frequency spectrum; entropy
    // terms round to 9dp decimals; Chao1/Good-Turing mirror as double
    // expressions.
    "q188_vocab_coverage" -> (toksCte + """,
        |tc AS (SELECT tok, COUNT(*) AS c FROM (
        |    SELECT unnest(toks) AS tok FROM t) GROUP BY 1),
        |sp AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS m FROM tc
        |  GROUP BY 1),
        |tt AS (SELECT CAST(SUM(m) AS BIGINT) AS v,
        |    CAST(SUM(c * m) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN c = 1 THEN m ELSE 0 END) AS BIGINT) AS f1,
        |    CAST(SUM(CASE WHEN c = 2 THEN m ELSE 0 END) AS BIGINT) AS f2
        |  FROM sp),
        |en AS (SELECT CAST(SUM(CAST(ROUND(CAST(m AS DOUBLE)
        |      * ((CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
        |        * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))), 9)
        |      AS DECIMAL(18,9))) AS DECIMAL(28,9)) AS ent
        |  FROM sp, tt)
        |SELECT v AS n_distinct, n AS n_tokens, f1, f2,
        |  ROUND(CAST(v AS DOUBLE) + CAST(f1 AS DOUBLE)
        |    * (CAST(f1 AS DOUBLE) - 1.0)
        |    / (2.0 * (CAST(f2 AS DOUBLE) + 1.0)) + 1e-9, 6) AS chao1,
        |  ROUND(CAST(f1 AS DOUBLE) / CAST(n AS DOUBLE) + 1e-9, 6)
        |    AS good_turing_p0,
        |  ROUND(-CAST(ent AS DOUBLE) + 1e-9, 6) AS unigram_entropy
        |FROM tt, en""".stripMargin),

    // q189: RFM — quintile fences via quantile_cont rounded exactly as
    // the engine rounds its exactQuantiles literals; strict > scoring.
    "q189_rfm" -> {
      def b(col: String, q: String) =
        s"(CASE WHEN $col > $q THEN 1 ELSE 0 END)"
      val rb = (1 to 4).map(i => b("rec", s"rq$i")).mkString(" + ")
      val fb = (1 to 4).map(i => b("freq", s"fq$i")).mkString(" + ")
      val mb = (1 to 4).map(i => b("mon", s"mq$i")).mkString(" + ")
      val rqs = Seq(0.2, 0.4, 0.6, 0.8).zipWithIndex.map { case (p, i) =>
        s"ROUND(quantile_cont(rec, $p) + 1e-9, 6) AS rq${i + 1}, " +
          s"ROUND(quantile_cont(freq, $p) + 1e-9, 6) AS fq${i + 1}, " +
          s"ROUND(quantile_cont(mon, $p) + 1e-9, 6) AS mq${i + 1}"
      }.mkString(",\n    ")
      s"""WITH h AS (SELECT MAX(epoch_us(ts)) AS hmax FROM events
         |  WHERE event_type = 'purchase' AND value IS NOT NULL),
         |u AS (SELECT user_id,
         |    CAST(floor((hmax - MAX(epoch_us(ts))) / 86400000000.0)
         |      AS DOUBLE) AS rec,
         |    CAST(COUNT(*) AS DOUBLE) AS freq,
         |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS mon
         |  FROM events, h
         |  WHERE event_type = 'purchase' AND value IS NOT NULL
         |  GROUP BY user_id, hmax),
         |q AS (SELECT
         |    $rqs
         |  FROM u)
         |SELECT 6 - (($rb) + 1) AS r_score,
         |  ($fb) + 1 AS f_score, ($mb) + 1 AS m_score,
         |  COUNT(*) AS n_users
         |FROM u, q GROUP BY 1, 2, 3""".stripMargin
    },

    // q190: CUSUM via the cumulative-min/max closed form — running
    // sum + running min/max replace the recursion, same evaluation
    // order in both engines; q170 decimal conventions for the
    // baseline.
    "q190_cusum" ->
      """WITH e AS (SELECT event_type, CAST(ts AS DATE) AS day, value
        |  FROM events WHERE value IS NOT NULL),
        |b AS (SELECT event_type, day, COUNT(*) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
        |      / CAST(COUNT(*) AS DOUBLE) AS md
        |  FROM e GROUP BY 1, 2),
        |g AS (SELECT event_type, COUNT(*) AS bn,
        |    CAST(SUM(CAST(ROUND(md, 9) AS DECIMAL(18,9)))
        |      AS DOUBLE) AS bs,
        |    CAST(SUM(CAST(ROUND(md * md, 9) AS DECIMAL(18,9)))
        |      AS DOUBLE) AS bss
        |  FROM b GROUP BY 1),
        |j AS (SELECT b.event_type, b.day,
        |    b.md - g.bs / g.bn AS dev,
        |    sqrt((g.bss - g.bs * g.bs / g.bn) / (g.bn - 1.0)) AS sd
        |  FROM b JOIN g ON b.event_type = g.event_type),
        |c AS (SELECT event_type, day, dev, sd,
        |    SUM(dev) OVER (PARTITION BY event_type ORDER BY day)
        |      AS cum
        |  FROM j),
        |f AS (SELECT event_type, day, dev, sd, cum,
        |    cum - LEAST(0.0, MIN(cum) OVER (PARTITION BY event_type
        |      ORDER BY day)) AS sp,
        |    GREATEST(0.0, MAX(cum) OVER (PARTITION BY event_type
        |      ORDER BY day)) - cum AS sn
        |  FROM c)
        |SELECT event_type, day,
        |  ROUND(dev + 1e-9, 6) AS dev,
        |  ROUND(sp + 1e-9, 6) AS cusum_pos,
        |  ROUND(sn + 1e-9, 6) AS cusum_neg,
        |  sp > 3.0 * sd AS alarm_pos,
        |  sn > 3.0 * sd AS alarm_neg
        |FROM f""".stripMargin,

    // q191-q193 intentionally unused (drafts folded into q194/q195) —
    // the numbering gap mirrors SparkEntry's wiring, nothing was dropped.
    // q194: Mann-Kendall — integer S over day pairs, integer tie
    // correction, one mirrored z expression.
    "q194_mann_kendall" ->
      """WITH e AS (SELECT event_type, CAST(ts AS DATE) AS day, value
        |  FROM events WHERE value IS NOT NULL),
        |b AS (SELECT event_type, day,
        |    CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
        |      / COUNT(*) AS md
        |  FROM e GROUP BY 1, 2),
        |sp AS (SELECT a.event_type,
        |    CAST(SUM(CASE WHEN b2.md > a.md THEN 1
        |      WHEN b2.md < a.md THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
        |  FROM b a JOIN b b2 ON a.event_type = b2.event_type
        |    AND a.day < b2.day
        |  GROUP BY 1),
        |tv AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS t
        |  FROM b GROUP BY event_type, md),
        |ti AS (SELECT event_type, CAST(SUM(t) AS BIGINT) AS n_days,
        |    CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tsum
        |  FROM tv GROUP BY 1),
        |f AS (SELECT sp.event_type, n_days, s_stat,
        |    (CAST(n_days AS DOUBLE) * (CAST(n_days AS DOUBLE) - 1.0)
        |      * (2.0 * CAST(n_days AS DOUBLE) + 5.0)
        |      - CAST(tsum AS DOUBLE)) / 18.0 AS vr
        |  FROM sp JOIN ti ON sp.event_type = ti.event_type)
        |SELECT event_type, n_days, s_stat,
        |  ROUND(CASE WHEN s_stat > 0
        |      THEN (CAST(s_stat AS DOUBLE) - 1.0) / sqrt(vr)
        |    WHEN s_stat < 0
        |      THEN (CAST(s_stat AS DOUBLE) + 1.0) / sqrt(vr)
        |    ELSE 0.0 END + 1e-9, 6) AS z
        |FROM f""".stripMargin,

    // q195: STL-lite — decimal frame sums make the centered MA
    // order-independent; DuckDB's dayofweek is 0-based Sunday, +1
    // aligns with Spark's.
    "q195_seasonal_decompose" ->
      """WITH e AS (SELECT event_type, CAST(ts AS DATE) AS day, value
        |  FROM events WHERE value IS NOT NULL),
        |b AS (SELECT event_type, day,
        |    CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
        |      / COUNT(*) AS md
        |  FROM e GROUP BY 1, 2),
        |m AS (SELECT event_type, day, md,
        |    CAST(ROUND(md, 9) AS DECIMAL(18,9)) AS md9 FROM b),
        |t AS (SELECT event_type, day, md,
        |    CAST(SUM(md9) OVER w AS DOUBLE)
        |      / CAST(COUNT(md9) OVER w AS DOUBLE) AS trend,
        |    CAST(dayofweek(day) + 1 AS INTEGER) AS dow
        |  FROM m WINDOW w AS (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |dt AS (SELECT event_type, day, dow, md, trend,
        |    md - trend AS detr FROM t),
        |se AS (SELECT event_type, dow,
        |    CAST(SUM(CAST(ROUND(detr, 9) AS DECIMAL(18,9))) AS DOUBLE)
        |      / COUNT(*) AS seas
        |  FROM dt GROUP BY 1, 2)
        |SELECT dt.event_type, dt.day, dt.dow,
        |  ROUND(md + 1e-9, 6) AS observed,
        |  ROUND(trend + 1e-9, 6) AS trend,
        |  ROUND(seas + 1e-9, 6) AS seasonal,
        |  ROUND(detr - seas + 1e-9, 6) AS residual
        |FROM dt JOIN se ON dt.event_type = se.event_type
        |  AND dt.dow = se.dow""".stripMargin,

    // q196: seasonal-naive backtest — lag-7 predictions on the per-day
    // table, 9dp-decimal error sums, expression-mirrored metrics.
    "q196_forecast_backtest" ->
      """WITH e AS (SELECT event_type, CAST(ts AS DATE) AS day, value
        |  FROM events WHERE value IS NOT NULL),
        |b AS (SELECT event_type, day,
        |    CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
        |      / COUNT(*) AS md
        |  FROM e GROUP BY 1, 2),
        |p AS (SELECT event_type, day, md,
        |    lag(md, 7) OVER (PARTITION BY event_type ORDER BY day)
        |      AS pred
        |  FROM b),
        |f AS (SELECT event_type, md, pred, md - pred AS err,
        |    abs(md - pred) / ((abs(md) + abs(pred)) / 2.0) AS sm
        |  FROM p WHERE pred IS NOT NULL)
        |SELECT event_type, COUNT(*) AS n_days,
        |  ROUND(CAST(SUM(CAST(ROUND(abs(err), 9) AS DECIMAL(18,9)))
        |    AS DOUBLE) / COUNT(*) + 1e-9, 6) AS mae,
        |  ROUND(sqrt(CAST(SUM(CAST(ROUND(err * err, 9)
        |    AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*)) + 1e-9, 6)
        |    AS rmse,
        |  ROUND(CAST(SUM(CAST(ROUND(sm, 9) AS DECIMAL(18,9)))
        |    AS DOUBLE) / COUNT(*) + 1e-9, 6) AS smape
        |FROM f GROUP BY event_type""".stripMargin,

    // q197: retention state flows — dense user×week grid via range
    // unnest, lag window, 2×2 transition counts.
    "q197_retention_states" ->
      """WITH a AS (SELECT DISTINCT user_id,
        |    CAST(day(ts) AS INTEGER) AS dy FROM events),
        |u AS (SELECT DISTINCT user_id FROM a),
        |g AS (SELECT user_id, CAST(unnest(range(1, 31)) AS INTEGER)
        |    AS dy FROM u),
        |st AS (SELECT g.user_id, g.dy,
        |    CASE WHEN a.user_id IS NULL THEN 0 ELSE 1 END AS s
        |  FROM g LEFT JOIN a ON g.user_id = a.user_id
        |    AND g.dy = a.dy),
        |tr AS (SELECT user_id, dy, s, lag(s) OVER (
        |    PARTITION BY user_id ORDER BY dy) AS prev FROM st)
        |SELECT CAST(dy - 1 AS INTEGER) AS day_from,
        |  CAST(prev AS INTEGER) AS from_state,
        |  CAST(s AS INTEGER) AS to_state, COUNT(*) AS n_users
        |FROM tr WHERE prev IS NOT NULL GROUP BY 1, 2, 3""".stripMargin,

    // q198: source vocabulary Jaccard — token-level distinct self-join
    // mirror of the engine's bounded source-set explode.
    "q198_source_similarity" -> (toksCte + """,
        |st AS (SELECT DISTINCT source, unnest(toks) AS tok FROM t),
        |sz AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM st
        |  GROUP BY 1),
        |pr AS (SELECT a.source AS source_a, b.source AS source_b,
        |    CAST(COUNT(*) AS BIGINT) AS n_common
        |  FROM st a JOIN st b ON a.tok = b.tok
        |    AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT source_a, source_b, n_common,
        |  ROUND(CAST(n_common AS DOUBLE)
        |    / CAST(na.n + nb.n - n_common AS DOUBLE) + 1e-9, 6)
        |    AS jaccard
        |FROM pr JOIN sz na ON pr.source_a = na.source
        |  JOIN sz nb ON pr.source_b = nb.source""".stripMargin),

    // q199: lead-lag CCF — aligned day pairs per lag, 9dp-decimal
    // moment sums, one mirrored correlation expression.
    "q199_lead_lag" ->
      """WITH e AS (SELECT event_type, CAST(ts AS DATE) AS day, value
        |  FROM events WHERE value IS NOT NULL
        |    AND event_type IN ('click', 'purchase')),
        |b AS (SELECT event_type, day,
        |    CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
        |      / COUNT(*) AS md
        |  FROM e GROUP BY 1, 2),
        |c AS (SELECT day, md AS x FROM b WHERE event_type = 'click'),
        |p AS (SELECT day AS pd, md AS y FROM b
        |  WHERE event_type = 'purchase'),
        |l AS (SELECT CAST(unnest(range(-3, 4)) AS INTEGER) AS lag),
        |j AS (SELECT lag, x, y FROM c CROSS JOIN l
        |  JOIN p ON c.day + l.lag = p.pd),
        |g AS (SELECT lag, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(ROUND(x, 9) AS DECIMAL(18,9))) AS DOUBLE)
        |      AS sx,
        |    CAST(SUM(CAST(ROUND(y, 9) AS DECIMAL(18,9))) AS DOUBLE)
        |      AS sy,
        |    CAST(SUM(CAST(ROUND(x * y, 9) AS DECIMAL(18,9))) AS DOUBLE)
        |      AS sxy,
        |    CAST(SUM(CAST(ROUND(x * x, 9) AS DECIMAL(18,9))) AS DOUBLE)
        |      AS sxx,
        |    CAST(SUM(CAST(ROUND(y * y, 9) AS DECIMAL(18,9))) AS DOUBLE)
        |      AS syy
        |  FROM j GROUP BY 1)
        |SELECT lag, n AS n_days,
        |  ROUND((CAST(n AS DOUBLE) * sxy - sx * sy)
        |    / (sqrt(CAST(n AS DOUBLE) * sxx - sx * sx)
        |      * sqrt(CAST(n AS DOUBLE) * syy - sy * sy)) + 1e-9, 6)
        |    AS ccf
        |FROM g""".stripMargin,

    // q200: corpus health report — exact counts and 6dp ratios, the
    // q165 keep predicate reused as a filter.
    "q200_corpus_report" -> (toksCte + """,
        |bc AS (
        |  SELECT doc_id, g, count(*) AS c
        |  FROM (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
        |          i -> toks[i] || ' ' || toks[i+1])) AS g FROM t)
        |  GROUP BY 1, 2),
        |bi AS (
        |  SELECT doc_id, 1.0 - CAST(count(*) AS DOUBLE)
        |      / CAST(sum(c) AS DOUBLE) AS dup_bg
        |  FROM bc GROUP BY doc_id),
        |keepc AS (
        |  SELECT CAST(SUM(CASE WHEN
        |      len(toks) BETWEEN 50 AND 100000
        |      AND (CASE WHEN len(toks) = 0 THEN 0.0 ELSE
        |        CAST(length(regexp_replace(trim(text), '\s+', '', 'g'))
        |          AS DOUBLE) / len(toks) END) BETWEEN 3.0 AND 10.0
        |      AND COALESCE(bi.dup_bg, 0.0) <= 0.2
        |      AND (CASE WHEN list_contains(toks, 'the') THEN 1 ELSE 0 END
        |       + CASE WHEN list_contains(toks, 'a') THEN 1 ELSE 0 END
        |       + CASE WHEN list_contains(toks, 'of') THEN 1 ELSE 0 END
        |       + CASE WHEN list_contains(toks, 'to') THEN 1 ELSE 0 END
        |       + CASE WHEN list_contains(toks, 'and') THEN 1 ELSE 0 END
        |       + CASE WHEN list_contains(toks, 'in') THEN 1 ELSE 0 END
        |       + CASE WHEN list_contains(toks, 'is') THEN 1 ELSE 0 END)
        |        >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS k
        |  FROM t LEFT JOIN bi ON t.doc_id = bi.doc_id),
        |base AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(len(toks)) AS BIGINT) AS toks,
        |    CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS uniq,
        |    CAST(COUNT(DISTINCT source) AS BIGINT) AS srcs FROM t),
        |voc AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS v
        |  FROM (SELECT unnest(toks) AS tok FROM t))
        |SELECT 'n_docs' AS metric, CAST(n AS DOUBLE) AS value FROM base
        |UNION ALL SELECT 'n_tokens', CAST(toks AS DOUBLE) FROM base
        |UNION ALL SELECT 'n_sources', CAST(srcs AS DOUBLE) FROM base
        |UNION ALL SELECT 'vocab_size', CAST(v AS DOUBLE) FROM voc
        |UNION ALL SELECT 'mean_doc_tokens',
        |  ROUND(CAST(toks AS DOUBLE) / n + 1e-9, 6) FROM base
        |UNION ALL SELECT 'gopher_keep_rate',
        |  ROUND(CAST(k AS DOUBLE) / n + 1e-9, 6) FROM keepc, base
        |UNION ALL SELECT 'exact_dup_rate',
        |  ROUND(CAST(n - uniq AS DOUBLE) / n + 1e-9, 6) FROM base"""
      .stripMargin),

    // q201: degree power-law MLE — integer degrees, 9dp-decimal ln
    // sums, one mirrored alpha expression.
    "q201_degree_powerlaw" ->
      """WITH pr AS (SELECT DISTINCT o_custkey * 2 AS a,
        |    l_suppkey * 2 + 1 AS b
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |dg AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS k FROM (
        |    SELECT a AS id FROM pr UNION ALL SELECT b FROM pr)
        |  GROUP BY 1),
        |ag AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
        |    CAST(SUM(k) AS BIGINT) AS sum_degree,
        |    CAST(MAX(k) AS BIGINT) AS max_degree,
        |    CAST(SUM(CAST(ROUND(ln(CAST(k AS DOUBLE) / 0.5), 9)
        |      AS DECIMAL(18,9))) AS DOUBLE) AS sln
        |  FROM dg)
        |SELECT n_nodes, sum_degree, max_degree,
        |  ROUND(1.0 + CAST(n_nodes AS DOUBLE) / sln + 1e-9, 6)
        |    AS alpha_hat
        |FROM ag""".stripMargin,

    // q202: assortativity — integer moments over directed edge copies,
    // one mirrored correlation expression.
    "q202_assortativity" ->
      """WITH pr AS (SELECT DISTINCT o_custkey * 2 AS a,
        |    l_suppkey * 2 + 1 AS b
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |ed AS (SELECT a, b FROM pr UNION ALL SELECT b, a FROM pr),
        |dg AS (SELECT a AS id, CAST(COUNT(*) AS BIGINT) AS k FROM ed
        |  GROUP BY 1),
        |j AS (SELECT da.k AS ka, db.k AS kb FROM ed
        |  JOIN dg da ON ed.a = da.id JOIN dg db ON ed.b = db.id),
        |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m,
        |    CAST(SUM(ka) AS BIGINT) AS sj,
        |    CAST(SUM(ka * kb) AS BIGINT) AS sjk,
        |    CAST(SUM(ka * ka) AS BIGINT) AS sj2 FROM j)
        |SELECT m AS n_directed_edges, sjk AS sum_jk,
        |  ROUND((CAST(sjk AS DOUBLE) / m
        |      - (CAST(sj AS DOUBLE) / m) * (CAST(sj AS DOUBLE) / m))
        |    / (CAST(sj2 AS DOUBLE) / m
        |      - (CAST(sj AS DOUBLE) / m) * (CAST(sj AS DOUBLE) / m))
        |    + 1e-9, 6) AS assortativity
        |FROM m""".stripMargin,

    // q203: burstiness — exact integer sufficient statistics per term,
    // zeros entering through the known document count; deterministic
    // top-20 cut (Σc desc, token asc).
    "q203_burstiness" -> (toksCte + """,
        |pd AS (SELECT tok, doc_id, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
        |  GROUP BY 1, 2),
        |bt AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS nd,
        |    CAST(SUM(c) AS BIGINT) AS sc,
        |    CAST(SUM(c * c) AS BIGINT) AS sc2
        |  FROM pd GROUP BY 1),
        |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
        |tp AS (SELECT * FROM bt ORDER BY sc DESC, tok ASC LIMIT 20)
        |SELECT tok, sc AS n_occurrences, nd AS n_docs_with,
        |  ROUND(CAST(sc AS DOUBLE) / n + 1e-9, 6) AS mean_per_doc,
        |  ROUND(((CAST(sc2 AS DOUBLE) - CAST(sc AS DOUBLE)
        |      * CAST(sc AS DOUBLE) / n) / (CAST(n AS DOUBLE) - 1.0))
        |    / (CAST(sc AS DOUBLE) / n) + 1e-9, 6) AS vmr
        |FROM tp, nn""".stripMargin),

    // q204: weighted Jaccard — Σmin over shared tokens (join), Σmax
    // via totals; exact integers to the final ratio.
    "q204_weighted_jaccard" -> (toksCte + """,
        |tf AS (SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS f
        |  FROM (SELECT source, unnest(toks) AS tok FROM t)
        |  GROUP BY 1, 2),
        |tt AS (SELECT source, CAST(SUM(f) AS BIGINT) AS tot FROM tf
        |  GROUP BY 1),
        |sh AS (SELECT a.source AS source_a, b.source AS source_b,
        |    CAST(SUM(LEAST(a.f, b.f)) AS BIGINT) AS sum_min
        |  FROM tf a JOIN tf b ON a.tok = b.tok
        |    AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT source_a, source_b, sum_min,
        |  ROUND(CAST(sum_min AS DOUBLE)
        |    / CAST(ta.tot + tb.tot - sum_min AS DOUBLE) + 1e-9, 6)
        |    AS weighted_jaccard
        |FROM sh JOIN tt ta ON sh.source_a = ta.source
        |  JOIN tt tb ON sh.source_b = tb.source""".stripMargin),

    // q205: transition entropies — exact count ratios from the 25-cell
    // table, 9dp-decimal entropy term sums.
    "q205_transition_entropy" ->
      """WITH p AS (SELECT event_type, lag(event_type) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |c AS (SELECT prev, event_type, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM p WHERE prev IS NOT NULL GROUP BY 1, 2),
        |r AS (SELECT prev, CAST(SUM(n) AS BIGINT) AS rt FROM c
        |  GROUP BY 1),
        |cl AS (SELECT event_type, CAST(SUM(n) AS BIGINT) AS ct FROM c
        |  GROUP BY 1),
        |g AS (SELECT CAST(SUM(n) AS BIGINT) AS gt FROM c),
        |hc AS (SELECT CAST(SUM(CAST(ROUND(
        |      (CAST(n AS DOUBLE) / gt)
        |      * ln(CAST(n AS DOUBLE) / CAST(rt AS DOUBLE)), 9)
        |      AS DECIMAL(18,9))) AS DOUBLE) AS v
        |  FROM c JOIN r ON c.prev = r.prev CROSS JOIN g),
        |hm AS (SELECT CAST(SUM(CAST(ROUND(
        |      (CAST(ct AS DOUBLE) / gt)
        |      * ln(CAST(ct AS DOUBLE) / CAST(gt AS DOUBLE)), 9)
        |      AS DECIMAL(18,9))) AS DOUBLE) AS v
        |  FROM cl CROSS JOIN g)
        |SELECT gt AS n_transitions,
        |  ROUND(-hm.v + 1e-9, 6) AS marginal_entropy,
        |  ROUND(-hc.v + 1e-9, 6) AS conditional_entropy,
        |  ROUND((-hm.v) - (-hc.v) + 1e-9, 6) AS information_gain
        |FROM g, hc, hm""".stripMargin,

    // q206: cohort LTV — decimal-exact per-(cohort, age) sums, decimal
    // cumulative window, one final per-user division.
    "q206_cohort_ltv" ->
      """WITH co AS (SELECT user_id,
        |    CAST(MIN(floor((day(ts) - 1) / 7.0)) AS INTEGER)
        |      AS cohort_week
        |  FROM events GROUP BY 1),
        |sz AS (SELECT cohort_week, CAST(COUNT(*) AS BIGINT)
        |    AS n_cohort_users FROM co GROUP BY 1),
        |pv AS (SELECT co.cohort_week,
        |    CAST(floor((day(e.ts) - 1) / 7.0) AS INTEGER)
        |      - co.cohort_week AS age_week,
        |    CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DECIMAL(28,2))
        |      AS v
        |  FROM events e JOIN co ON e.user_id = co.user_id
        |  WHERE e.event_type = 'purchase' AND e.value IS NOT NULL
        |  GROUP BY 1, 2),
        |cm AS (SELECT cohort_week, age_week,
        |    CAST(SUM(v) OVER (PARTITION BY cohort_week ORDER BY age_week)
        |      AS DECIMAL(28,2)) AS cum
        |  FROM pv)
        |SELECT cm.cohort_week, cm.age_week, sz.n_cohort_users,
        |  ROUND(CAST(cum AS DOUBLE)
        |    / CAST(n_cohort_users AS DOUBLE) + 1e-9, 6)
        |    AS cum_value_per_user
        |FROM cm JOIN sz ON cm.cohort_week = sz.cohort_week""".stripMargin,

    // q207: conversion by session depth — the q30 session cut, exact
    // count ratios per capped depth bucket.
    "q207_depth_conversion" ->
      """WITH x AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS prev_ts
        |  FROM events),
        |y AS (SELECT user_id, event_type,
        |    CAST(SUM(CASE WHEN prev_ts IS NULL
        |      OR ts > prev_ts + INTERVAL '30 minutes' THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS BIGINT) AS sid
        |  FROM x),
        |se AS (SELECT user_id, sid, CAST(COUNT(*) AS BIGINT) AS depth,
        |    CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
        |      END) AS BIGINT) AS conv
        |  FROM y GROUP BY 1, 2)
        |SELECT LEAST(depth, 10) AS depth_bucket,
        |  CAST(COUNT(*) AS BIGINT) AS n_sessions,
        |  CAST(SUM(conv) AS BIGINT) AS n_converted,
        |  ROUND(CAST(SUM(conv) AS DOUBLE) / COUNT(*) + 1e-9, 6)
        |    AS conversion_rate
        |FROM se GROUP BY 1""".stripMargin,

    // q208: revenue deciles — quantile_cont fences rounded exactly as
    // the engine rounds its exactQuantiles literals, exact decimal
    // revenue sums, mirrored shares.
    "q208_revenue_deciles" -> {
      val fences = (1 to 9).map(i =>
        s"ROUND(quantile_cont(rd, 0.$i) + 1e-9, 6) AS f$i").mkString(", ")
      val caseSum = (1 to 9).map(i =>
        s"(CASE WHEN rd > f$i THEN 1 ELSE 0 END)").mkString(" + ")
      s"""WITH u AS (SELECT user_id,
         |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(28,2))
         |      AS r,
         |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS rd
         |  FROM events
         |  WHERE event_type = 'purchase' AND value IS NOT NULL
         |  GROUP BY 1),
         |q AS (SELECT $fences FROM u),
         |t AS (SELECT CAST(SUM(r) AS DECIMAL(28,2)) AS tot FROM u),
         |d AS (SELECT ($caseSum) + 1 AS decile, r FROM u, q)
         |SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_users,
         |  ROUND(CAST(SUM(r) AS DOUBLE) + 1e-9, 2) AS revenue,
         |  ROUND(CAST(SUM(r) AS DOUBLE) / CAST(tot AS DOUBLE)
         |    + 1e-9, 6) AS revenue_share
         |FROM d, t GROUP BY 1, tot""".stripMargin
    },

    // q209: streaming file-source tumbling counts — complete mode makes
    // the final table batch-equivalent, so the oracle is the plain
    // 6-hour rollup; Spark's window() aligns to the unix epoch, mirrored
    // with integer floor division on epoch micros.
    "q209_streaming_file" ->
      """SELECT (epoch_us(ts) // 21600000000) * 21600000000
        |    AS win_start_us,
        |  event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    // q210: passage-dedup rewrite — keeper = first (doc, idx) per
    // passage hash (window form here; the engine uses the agg form),
    // rebuilt text string_agg'd in passage order, '' when none survive.
    "q210_passage_rewrite" ->
      """WITH t AS (SELECT doc_id, string_split(text, '. ') AS parts
        |  FROM documents),
        |e AS (SELECT doc_id, i AS idx, parts[i] AS p
        |  FROM t, UNNEST(range(1, len(parts) + 1)) AS u(i)),
        |k AS (SELECT doc_id, idx, p,
        |    (ROW_NUMBER() OVER (PARTITION BY md5(p)
        |      ORDER BY doc_id, idx)) = 1 AS keep
        |  FROM e)
        |SELECT doc_id, COUNT(*) AS n_passages,
        |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  md5(COALESCE(string_agg(p, '. ' ORDER BY idx)
        |    FILTER (WHERE keep), '')) AS text_hash
        |FROM k GROUP BY doc_id""".stripMargin,

    // q158: isotonic calibration via the MINIMAX characterization of the
    // PAV fit — iso(k) = max_{i≤k} min_{j≥k} avg(i..j) over integer
    // (pos, n) bin sums. The winning interval is exactly the engine's
    // PAV pool, and every candidate is one integer/integer double
    // division, so the doubles land bit-identical.
    "q158_isotonic" ->
      """WITH s AS (SELECT l_discount * 10 AS score,
        |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS pos
        |  FROM lineitem),
        |b AS (SELECT CAST(least(CAST(floor(score * 10) AS BIGINT), 9)
        |    AS INTEGER) AS bin, COUNT(*) AS n,
        |    CAST(SUM(pos) AS BIGINT) AS pos
        |  FROM s GROUP BY 1),
        |ivl AS (SELECT lo.bin AS i, hi.bin AS j,
        |    CAST(SUM(m.pos) AS DOUBLE) / CAST(SUM(m.n) AS DOUBLE) AS avg
        |  FROM b lo JOIN b hi ON lo.bin <= hi.bin
        |  JOIN b m ON m.bin BETWEEN lo.bin AND hi.bin
        |  GROUP BY lo.bin, hi.bin),
        |mm AS (SELECT k.bin, ivl.i, MIN(ivl.avg) AS mn
        |  FROM b k JOIN ivl ON ivl.i <= k.bin AND ivl.j >= k.bin
        |  GROUP BY k.bin, ivl.i),
        |iso AS (SELECT bin, MAX(mn) AS v FROM mm GROUP BY bin)
        |SELECT b.bin, b.n,
        |  ROUND(CAST(b.pos AS DOUBLE) / CAST(b.n AS DOUBLE)
        |    + 1e-9, 6) AS rate_raw,
        |  ROUND(iso.v + 1e-9, 6) AS rate_iso
        |FROM b JOIN iso ON b.bin = iso.bin""".stripMargin,

    // q155: full single-pass recompute — gating the engine's
    // merge(snapshot(base), snapshot(delta)) identity. Decimal sums make
    // the floating component of the state exactly mergeable.
    "q155_incremental_agg" ->
      """SELECT event_type, COUNT(value) AS n,
        |  ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
        |    + 1e-9, 6) AS sum_v,
        |  MIN(value) AS min_v, MAX(value) AS max_v,
        |  ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
        |    / CAST(COUNT(value) AS DOUBLE) + 1e-9, 6) AS mean_v
        |FROM events WHERE value IS NOT NULL
        |GROUP BY event_type""".stripMargin)
}
