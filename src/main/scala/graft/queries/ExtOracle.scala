package graft.queries

/** DuckDB-SQL twins of [[ExtQueries]]. Every hash is the same explicit
  * integer arithmetic as the Spark side (Horner char fold, polynomial
  * shingle combine, affine MinHash, Rademacher hyperplane signs) so the
  * two engines produce bit-identical integers; every float expression
  * repeats the Spark shape operation-for-operation (see Determinism).
  */
object ExtOracle {

  private val P = "2147483647"

  /** Shared doc CTEs: ws = non-empty words, h = word hashes, sh = distinct
    * 3-gram shingle hashes (only docs with ≥3 words shingle — same set as
    * the Spark side's size(shingles) > 0 filter). */
  private val DOCS =
    s"""docs AS (SELECT doc_id, lang, source, n_chars,
       |               list_filter(string_split(text, ' '), w -> length(w) > 0) AS ws
       |        FROM documents),
       |wh AS (SELECT *, list_transform(ws,
       |          w -> list_reduce([CAST(0 AS BIGINT)] ||
       |                 list_transform(string_split(w, ''), c -> CAST(ascii(c) AS BIGINT)),
       |                           (a, b) -> (a*31 + b) % 1000003)) AS h
       |       FROM docs),
       |sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(h) - 1),
       |          i -> ((h[i]*1009 + h[i+1]) % $P * 1009 + h[i+2]) % $P)) AS shingles
       |       FROM wh WHERE len(h) >= 3)""".stripMargin

  private def mhExpr(k: Int): String = {
    val a = 1000003L * (k + 1) + 17
    val b = 917L * (k + 1)
    s"list_min(list_transform(shingles, s -> ($a * s + $b) % $P))"
  }

  private def bandSigSql(lo: Int, hi: Int): String =
    (lo to hi).map(k => s"m[${k + 1}]").foldLeft("0") { (acc, mh) =>
      s"(($acc * 31 + $mh) % $P)"
    }

  val qx1: String =
    """SELECT event_type, count(*) AS cnt,
      |       CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_value
      |FROM events GROUP BY event_type""".stripMargin

  /** Shared embedding CTEs: exact integer vectors + norms + query set. */
  private val EMB =
    """iv AS (SELECT vec_id,
      |         -- CAST to DOUBLE first: DuckDB would otherwise multiply in
      |         -- FLOAT precision (Spark promotes float*decimal to double).
      |         list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS v
      |       FROM embeddings),
      |n AS (SELECT vec_id, v,
      |        CAST(list_sum(list_transform(v, x -> x*x)) AS BIGINT) AS n2 FROM iv),
      |q AS (SELECT vec_id AS qid, v AS qv, n2 AS qn2 FROM n WHERE vec_id % 50 = 0)""".stripMargin

  val qx2: String =
    s"""WITH $EMB,
       |scored AS (
       |  SELECT q.qid, n.vec_id,
       |         CAST(CAST(list_sum(list_transform(range(1, len(v) + 1), i -> v[i] * qv[i])) AS BIGINT) AS DOUBLE)
       |           / (sqrt(CAST(n2 AS DOUBLE)) * sqrt(CAST(qn2 AS DOUBLE))) AS cosine
       |  FROM n CROSS JOIN q WHERE n.vec_id <> q.qid)
       |SELECT qid, rk, vec_id, cosine
       |FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id ASC) AS rk
       |      FROM scored) t
       |WHERE rk <= 5""".stripMargin

  /** Banded corpus-sized LSH signatures (EmbeddingLsh twin): p planes per
    * band derived from n with pure integer arithmetic (length(bin(x))−1 ==
    * floor(log2(x)) == 63 − numberOfLeadingZeros(x)), 8 bands, plane index
    * g = band·p + bit, identical Rademacher sign family. Produces
    * sig(vec_id, band, sig). */
  private val LSH =
    """params AS (SELECT count(*) AS n FROM embeddings),
      |pp AS (SELECT CAST(least(24, greatest(6, length(bin(greatest(n // 32, 2))) - 1)) AS BIGINT) AS p
      |       FROM params),
      |dims AS (SELECT vec_id, i - 1 AS d, v[i] AS val FROM n, generate_series(1, 64) t(i)),
      |pg AS (SELECT g FROM pp, unnest(range(0, 8 * p)) AS t(g)),
      |pd AS (SELECT vec_id, g,
      |         sum(CASE WHEN ((g * 1000003 + d * 97 + 7) * (g * 1000003 + d * 97 + 7))
      |                        % 2147483647 % 2 = 0 THEN val ELSE -val END) AS s
      |       FROM dims, pg GROUP BY vec_id, g),
      |sig AS (SELECT vec_id, g // p AS band,
      |          CAST(sum(CASE WHEN s >= 0 THEN (1 << (g % p)) ELSE 0 END) AS BIGINT) AS sig
      |        FROM pd, pp GROUP BY vec_id, g // p)""".stripMargin

  val qx3: String =
    s"""WITH $EMB,
       |$LSH,
       |qsig AS (SELECT vec_id AS qid, band, sig FROM sig WHERE vec_id % 50 = 0),
       |cand AS (SELECT DISTINCT s.vec_id, qs.qid
       |         FROM sig s JOIN qsig qs ON s.band = qs.band AND s.sig = qs.sig
       |         WHERE s.vec_id <> qs.qid),
       |scored AS (
       |  SELECT cand.qid, cand.vec_id,
       |         CAST(CAST(list_sum(list_transform(range(1, len(v) + 1), i -> v[i] * qv[i])) AS BIGINT) AS DOUBLE)
       |           / (sqrt(CAST(n2 AS DOUBLE)) * sqrt(CAST(qn2 AS DOUBLE))) AS cosine
       |  FROM cand JOIN n ON cand.vec_id = n.vec_id JOIN q ON cand.qid = q.qid)
       |SELECT qid, rk, vec_id, cosine
       |FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id ASC) AS rk
       |      FROM scored) t
       |WHERE rk <= 5""".stripMargin

  val qx12: String =
    s"""WITH $EMB,
       |$LSH,
       |cand AS (SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
       |         FROM sig x JOIN sig y ON x.band = y.band AND x.sig = y.sig
       |         WHERE x.vec_id < y.vec_id),
       |pairs AS (
       |  SELECT vec_a, vec_b,
       |         CAST(CAST(list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i])) AS BIGINT) AS DOUBLE)
       |           / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))) AS cosine
       |  FROM cand JOIN n a ON vec_a = a.vec_id JOIN n b ON vec_b = b.vec_id)
       |SELECT vec_a, vec_b, cosine FROM pairs WHERE cosine >= 0.35""".stripMargin

  /** IvfAnn twin: K = clamp(n/64, 4, 65536) integer-hashed centroids,
    * argmax-dot assignment (ties → smallest cid), queries probe their 2
    * best lists; exact cosine + top-5 on list members. Queries reuse the
    * base assignment dots (they are base rows), exactly like the Spark
    * plan's shared centroid table. */
  val qx13: String =
    s"""WITH $EMB,
       |params AS (SELECT count(*) AS n FROM embeddings),
       |-- gateCentroidsFor: K = min(n/64, pow2-sqrt(n/64)), both clamped
       |-- [4, 65536] — the O(n^1.5) gate bound (r8 verdict #3)
       |kk AS (SELECT CAST(least(
       |         least(65536, greatest(4, n // 64)),
       |         least(65536, greatest(4,
       |           1 << ((length(bin(greatest(n // 64, 2))) - 1 + 1) // 2)))) AS BIGINT) AS k
       |       FROM params),
       |cents AS (SELECT c AS cid, d,
       |            -- reduce mod p BEFORE squaring: (h%p)^2 == h^2 (mod p) but
       |            -- never overflows BIGINT (the raw square errors past c~3037)
       |            (((c * 1000003 + d * 97 + 13) % 2147483647) * ((c * 1000003 + d * 97 + 13) % 2147483647))
       |              % 2147483647 % 2001 - 1000 AS cval
       |          FROM kk, unnest(range(0, k)) AS t(c), generate_series(0, 63) td(d)),
       |dims AS (SELECT vec_id, i - 1 AS d, v[i] AS val FROM n, generate_series(1, 64) t(i)),
       |adot AS (SELECT vec_id, cid, sum(val * cval) AS dot
       |         FROM dims JOIN cents USING (d) GROUP BY vec_id, cid),
       |assign AS (SELECT vec_id, cid FROM (
       |             SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cid ASC) AS rn
       |             FROM adot) WHERE rn = 1),
       |qprobe AS (SELECT qid, cid FROM (
       |             SELECT a.vec_id AS qid, cid, row_number() OVER (PARTITION BY a.vec_id ORDER BY dot DESC, cid ASC) AS rn
       |             FROM adot a WHERE a.vec_id % 50 = 0) WHERE rn <= 2),
       |cand AS (SELECT qid, vec_id FROM qprobe JOIN assign USING (cid) WHERE vec_id <> qid),
       |scored AS (
       |  SELECT cand.qid, cand.vec_id,
       |         CAST(CAST(list_sum(list_transform(range(1, len(v) + 1), i -> v[i] * qv[i])) AS BIGINT) AS DOUBLE)
       |           / (sqrt(CAST(n2 AS DOUBLE)) * sqrt(CAST(qn2 AS DOUBLE))) AS cosine
       |  FROM cand JOIN n ON cand.vec_id = n.vec_id JOIN q ON cand.qid = q.qid)
       |SELECT qid, rk, vec_id, cosine
       |FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id ASC) AS rk
       |      FROM scored) t
       |WHERE rk <= 5""".stripMargin

  /** IvfAnn IMI twin (qx15): per-level K = 2^(len(bin(m))//2) clamped
    * [4, 65536] (lockstep with imiCentroidsFor's (floorLog2(m)+1)/2 —
    * len(bin(m)) = floorLog2(m)+1), two 32-dim codebooks (salts 13/29,
    * absolute dim indices), product cell = c0·K + c1, 2×2 probed cells,
    * exact integer cosine rescore. */
  val qx15: String =
    s"""WITH $EMB,
       |params AS (SELECT count(*) AS n FROM embeddings),
       |kk AS (SELECT CAST(least(65536, greatest(4,
       |         1 << ((length(bin(greatest(n // 64, 2))) - 1 + 1) // 2))) AS BIGINT) AS k
       |       FROM params),
       |cents AS (SELECT l.lvl, c AS cid, d + 32 * l.lvl AS d,
       |            (((c * 1000003 + (d + 32 * l.lvl) * 97 + CASE l.lvl WHEN 0 THEN 13 ELSE 29 END) % 2147483647)
       |             * ((c * 1000003 + (d + 32 * l.lvl) * 97 + CASE l.lvl WHEN 0 THEN 13 ELSE 29 END) % 2147483647))
       |              % 2147483647 % 2001 - 1000 AS cval
       |          FROM kk, unnest(range(0, k)) AS t(c), generate_series(0, 31) td(d),
       |               (VALUES (0), (1)) l(lvl)),
       |dims AS (SELECT vec_id, i - 1 AS d, v[i] AS val FROM n, generate_series(1, 64) t(i)),
       |adot AS (SELECT vec_id, lvl, cid, sum(val * cval) AS dot
       |         FROM dims JOIN cents USING (d) GROUP BY vec_id, lvl, cid),
       |asg AS (SELECT vec_id, lvl, cid FROM (
       |          SELECT vec_id, lvl, cid, row_number() OVER (PARTITION BY vec_id, lvl ORDER BY dot DESC, cid ASC) AS rn
       |          FROM adot) WHERE rn = 1),
       |cells AS (SELECT a0.vec_id, a0.cid * k + a1.cid AS cell
       |          FROM asg a0, asg a1, kk
       |          WHERE a0.vec_id = a1.vec_id AND a0.lvl = 0 AND a1.lvl = 1),
       |qpr AS (SELECT qid, lvl, cid FROM (
       |          SELECT vec_id AS qid, lvl, cid, row_number() OVER (PARTITION BY vec_id, lvl ORDER BY dot DESC, cid ASC) AS rn
       |          FROM adot WHERE vec_id % 50 = 0) WHERE rn <= 2),
       |qcells AS (SELECT p0.qid, p0.cid * k + p1.cid AS cell
       |           FROM qpr p0, qpr p1, kk
       |           WHERE p0.qid = p1.qid AND p0.lvl = 0 AND p1.lvl = 1),
       |cand AS (SELECT qid, vec_id FROM qcells JOIN cells USING (cell) WHERE vec_id <> qid),
       |scored AS (
       |  SELECT cand.qid, cand.vec_id,
       |         CAST(CAST(list_sum(list_transform(range(1, len(v) + 1), i -> v[i] * qv[i])) AS BIGINT) AS DOUBLE)
       |           / (sqrt(CAST(n2 AS DOUBLE)) * sqrt(CAST(qn2 AS DOUBLE))) AS cosine
       |  FROM cand JOIN n ON cand.vec_id = n.vec_id JOIN q ON cand.qid = q.qid)
       |SELECT qid, rk, vec_id, cosine
       |FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id ASC) AS rk
       |      FROM scored) t
       |WHERE rk <= 5""".stripMargin

  /** Trained-IVF twin (qx16): K = 2^(length(bin(n))//2) clamped [4,65536]
    * (lockstep with kmeansCentroidsFor — length(bin(n)) = floorLog2(n)+1),
    * seeds = qx13's integer centroid family, two Lloyd steps (argmin L2 as
    * argmax 2·dot − ‖c‖², ties to smallest cid; update = per-dim Σ // count
    * — BOTH engines truncate integer division toward zero; empty clusters
    * keep their previous centroid), then assign/probe-2/rescore exactly as
    * qx13. Every intermediate is integer-exact. */
  /** Shared trained-k-means CTE prefix (qx16 + qx38): seeds → two Lloyd
    * steps → final integer centroids → per-vector `assign`(vec_id, cid).
    * One Lloyd step from centroid CTE `cin` → `cout` (names
    * parameterized so the two unrolled iterations share the SQL shape).
    * `assign` is MATERIALIZED: DuckDB otherwise inlines it, with the
    * whole Lloyd chain, into every reference. */
  private val KMEANS_ASSIGN: String = {
    def step(cin: String, cout: String, i: Int): String =
      s"""cn$i AS (SELECT cid, sum(cval*cval) AS cn2 FROM $cin GROUP BY cid),
         |ad$i AS (SELECT vec_id, cid, sum(val * cval) AS dot
         |         FROM dims JOIN $cin USING (d) GROUP BY vec_id, cid),
         |as$i AS (SELECT vec_id, cid FROM (
         |          SELECT vec_id, ad$i.cid,
         |                 row_number() OVER (PARTITION BY vec_id
         |                   ORDER BY (2*dot - cn2) DESC, ad$i.cid ASC) AS rn
         |          FROM ad$i JOIN cn$i USING (cid)) WHERE rn = 1),
         |up$i AS (SELECT cid, d, CAST(sum(val) // count(*) AS BIGINT) AS m
         |         FROM dims JOIN as$i USING (vec_id) GROUP BY cid, d),
         |$cout AS (SELECT s.cid, s.d, COALESCE(u.m, s.cval) AS cval
         |          FROM $cin s LEFT JOIN up$i u ON s.cid = u.cid AND s.d = u.d)""".stripMargin
    s"""$EMB,
       |params AS (SELECT count(*) AS n FROM embeddings),
       |kk AS (SELECT CAST(least(65536, greatest(4,
       |         1 << (length(bin(greatest(n, 2))) // 2))) AS BIGINT) AS k
       |       FROM params),
       |c0 AS (SELECT c AS cid, d,
       |         (((c * 1000003 + d * 97 + 13) % $P) * ((c * 1000003 + d * 97 + 13) % $P))
       |           % $P % 2001 - 1000 AS cval
       |       FROM kk, unnest(range(0, k)) AS t(c), generate_series(0, 63) td(d)),
       |dims AS (SELECT vec_id, i - 1 AS d, v[i] AS val FROM n, generate_series(1, 64) t(i)),
       |${step("c0", "c1", 0)},
       |${step("c1", "c2", 1)},
       |cnf AS (SELECT cid, sum(cval*cval) AS cn2 FROM c2 GROUP BY cid),
       |adf AS (SELECT vec_id, cid, sum(val * cval) AS dot
       |        FROM dims JOIN c2 USING (d) GROUP BY vec_id, cid),
       |assign AS MATERIALIZED (SELECT vec_id, cid FROM (
       |             SELECT vec_id, adf.cid,
       |                    row_number() OVER (PARTITION BY vec_id
       |                      ORDER BY (2*dot - cn2) DESC, adf.cid ASC) AS rn
       |             FROM adf JOIN cnf USING (cid)) WHERE rn = 1)""".stripMargin
  }

  /** qx42 twin: per-subspace Lloyd-trained PQ codebooks (M=8 × 8 dims,
    * K=16, salt 37, 2 iterations — the KMEANS_ASSIGN machinery grouped by
    * sub = d // 8), ADC = Σ_m (‖c‖² − 2·q_m·c) over each vector's codes,
    * top-32 by (adc ASC, vec_id ASC), exact-cosine top-5 refine. */
  val qx42: String = {
    def step(cin: String, cout: String, i: Int): String =
      s"""pcn$i AS (SELECT cid, d // 8 AS sub, sum(cval*cval) AS cn2
         |          FROM $cin GROUP BY 1, 2),
         |pad$i AS (SELECT vec_id, cid, d // 8 AS sub, sum(val * cval) AS dot
         |          FROM pdims JOIN $cin USING (d) GROUP BY 1, 2, 3),
         |pas$i AS (SELECT vec_id, sub, cid FROM (
         |           SELECT a.vec_id, a.sub, a.cid,
         |                  row_number() OVER (PARTITION BY a.vec_id, a.sub
         |                    ORDER BY (2*dot - cn2) DESC, a.cid ASC) AS rn
         |           FROM pad$i a JOIN pcn$i c ON a.cid = c.cid AND a.sub = c.sub)
         |          WHERE rn = 1),
         |pup$i AS (SELECT a.cid, pdims.d, CAST(sum(val) // count(*) AS BIGINT) AS m
         |          FROM pdims JOIN pas$i a
         |            ON pdims.vec_id = a.vec_id AND pdims.d // 8 = a.sub
         |          GROUP BY 1, 2),
         |$cout AS (SELECT s.cid, s.d, COALESCE(u.m, s.cval) AS cval
         |          FROM $cin s LEFT JOIN pup$i u ON s.cid = u.cid AND s.d = u.d)""".stripMargin
    s"""WITH $EMB,
       |pc0 AS (SELECT c AS cid, d,
       |          (((c * 1000003 + d * 97 + 37) % $P) * ((c * 1000003 + d * 97 + 37) % $P))
       |            % $P % 2001 - 1000 AS cval
       |        FROM unnest(range(0, 16)) AS t(c), generate_series(0, 63) td(d)),
       |pdims AS (SELECT vec_id, i - 1 AS d, v[i] AS val FROM n, generate_series(1, 64) t(i)),
       |${step("pc0", "pc1", 0)},
       |${step("pc1", "pc2", 1)},
       |pcnf AS (SELECT cid, d // 8 AS sub, sum(cval*cval) AS cn2 FROM pc2 GROUP BY 1, 2),
       |padf AS (SELECT vec_id, cid, d // 8 AS sub, sum(val * cval) AS dot
       |         FROM pdims JOIN pc2 USING (d) GROUP BY 1, 2, 3),
       |codes AS (SELECT vec_id, sub, cid FROM (
       |           SELECT a.vec_id, a.sub, a.cid,
       |                  row_number() OVER (PARTITION BY a.vec_id, a.sub
       |                    ORDER BY (2*dot - cn2) DESC, a.cid ASC) AS rn
       |           FROM padf a JOIN pcnf c ON a.cid = c.cid AND a.sub = c.sub)
       |          WHERE rn = 1),
       |qdims AS (SELECT qid, i - 1 AS d, qv[i] AS val FROM q, generate_series(1, 64) t(i)),
       |lut AS (SELECT a.qid, a.cid, a.sub, c.cn2 - 2 * a.qdot AS part
       |        FROM (SELECT qid, cid, d // 8 AS sub, sum(val * cval) AS qdot
       |              FROM qdims JOIN pc2 USING (d) GROUP BY 1, 2, 3) a
       |        JOIN pcnf c ON a.cid = c.cid AND a.sub = c.sub),
       |adc AS (SELECT l.qid, c.vec_id, CAST(sum(part) AS BIGINT) AS adc
       |        FROM codes c JOIN lut l ON c.sub = l.sub AND c.cid = l.cid
       |        WHERE c.vec_id <> l.qid GROUP BY 1, 2),
       |sel AS (SELECT qid, vec_id FROM (
       |         SELECT qid, vec_id,
       |                row_number() OVER (PARTITION BY qid
       |                  ORDER BY adc ASC, vec_id ASC) AS rn
       |         FROM adc) WHERE rn <= 32),
       |scored AS (
       |  SELECT sel.qid, sel.vec_id,
       |         CAST(CAST(list_sum(list_transform(range(1, len(v) + 1), i -> v[i] * qv[i])) AS BIGINT) AS DOUBLE)
       |           / (sqrt(CAST(n2 AS DOUBLE)) * sqrt(CAST(qn2 AS DOUBLE))) AS cosine
       |  FROM sel JOIN n ON sel.vec_id = n.vec_id JOIN q ON sel.qid = q.qid)
       |SELECT qid, rk, vec_id, cosine
       |FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id ASC) AS rk
       |      FROM scored) t
       |WHERE rk <= 5""".stripMargin
  }

  /** qx43 twin: IVF-PQ — qx15's IMI cell derivation chooses candidates
    * (4 probed product cells per query), qx42's PQ codebooks + ADC score
    * them, top-32 by (adc ASC, vec_id ASC), exact-cosine top-5 refine. */
  val qx43: String = {
    def step(cin: String, cout: String, i: Int): String =
      s"""pcn$i AS (SELECT cid, d // 8 AS sub, sum(cval*cval) AS cn2
         |          FROM $cin GROUP BY 1, 2),
         |pad$i AS (SELECT vec_id, cid, d // 8 AS sub, sum(val * cval) AS dot
         |          FROM pdims JOIN $cin USING (d) GROUP BY 1, 2, 3),
         |pas$i AS (SELECT vec_id, sub, cid FROM (
         |           SELECT a.vec_id, a.sub, a.cid,
         |                  row_number() OVER (PARTITION BY a.vec_id, a.sub
         |                    ORDER BY (2*dot - cn2) DESC, a.cid ASC) AS rn
         |           FROM pad$i a JOIN pcn$i c ON a.cid = c.cid AND a.sub = c.sub)
         |          WHERE rn = 1),
         |pup$i AS (SELECT a.cid, pdims.d, CAST(sum(val) // count(*) AS BIGINT) AS m
         |          FROM pdims JOIN pas$i a
         |            ON pdims.vec_id = a.vec_id AND pdims.d // 8 = a.sub
         |          GROUP BY 1, 2),
         |$cout AS (SELECT s.cid, s.d, COALESCE(u.m, s.cval) AS cval
         |          FROM $cin s LEFT JOIN pup$i u ON s.cid = u.cid AND s.d = u.d)""".stripMargin
    s"""WITH $EMB,
       |params AS (SELECT count(*) AS n FROM embeddings),
       |kk AS (SELECT CAST(least(65536, greatest(4,
       |         1 << ((length(bin(greatest(n // 64, 2))) - 1 + 1) // 2))) AS BIGINT) AS k
       |       FROM params),
       |cents AS (SELECT l.lvl, c AS cid, d + 32 * l.lvl AS d,
       |            (((c * 1000003 + (d + 32 * l.lvl) * 97 + CASE l.lvl WHEN 0 THEN 13 ELSE 29 END) % 2147483647)
       |             * ((c * 1000003 + (d + 32 * l.lvl) * 97 + CASE l.lvl WHEN 0 THEN 13 ELSE 29 END) % 2147483647))
       |              % 2147483647 % 2001 - 1000 AS cval
       |          FROM kk, unnest(range(0, k)) AS t(c), generate_series(0, 31) td(d),
       |               (VALUES (0), (1)) l(lvl)),
       |pdims AS (SELECT vec_id, i - 1 AS d, v[i] AS val FROM n, generate_series(1, 64) t(i)),
       |adot AS (SELECT vec_id, lvl, cid, sum(val * cval) AS dot
       |         FROM pdims JOIN cents USING (d) GROUP BY vec_id, lvl, cid),
       |asg AS (SELECT vec_id, lvl, cid FROM (
       |          SELECT vec_id, lvl, cid, row_number() OVER (PARTITION BY vec_id, lvl ORDER BY dot DESC, cid ASC) AS rn
       |          FROM adot) WHERE rn = 1),
       |cells AS (SELECT a0.vec_id, a0.cid * k + a1.cid AS cell
       |          FROM asg a0, asg a1, kk
       |          WHERE a0.vec_id = a1.vec_id AND a0.lvl = 0 AND a1.lvl = 1),
       |qpr AS (SELECT qid, lvl, cid FROM (
       |          SELECT vec_id AS qid, lvl, cid, row_number() OVER (PARTITION BY vec_id, lvl ORDER BY dot DESC, cid ASC) AS rn
       |          FROM adot WHERE vec_id % 50 = 0) WHERE rn <= 2),
       |qcells AS (SELECT p0.qid, p0.cid * k + p1.cid AS cell
       |           FROM qpr p0, qpr p1, kk
       |           WHERE p0.qid = p1.qid AND p0.lvl = 0 AND p1.lvl = 1),
       |cand AS (SELECT qid, vec_id FROM qcells JOIN cells USING (cell) WHERE vec_id <> qid),
       |pc0 AS (SELECT c AS cid, d,
       |          (((c * 1000003 + d * 97 + 37) % $P) * ((c * 1000003 + d * 97 + 37) % $P))
       |            % $P % 2001 - 1000 AS cval
       |        FROM unnest(range(0, 16)) AS t(c), generate_series(0, 63) td(d)),
       |${step("pc0", "pc1", 0)},
       |${step("pc1", "pc2", 1)},
       |pcnf AS (SELECT cid, d // 8 AS sub, sum(cval*cval) AS cn2 FROM pc2 GROUP BY 1, 2),
       |padf AS (SELECT vec_id, cid, d // 8 AS sub, sum(val * cval) AS dot
       |         FROM pdims JOIN pc2 USING (d) GROUP BY 1, 2, 3),
       |codes AS (SELECT vec_id, sub, cid FROM (
       |           SELECT a.vec_id, a.sub, a.cid,
       |                  row_number() OVER (PARTITION BY a.vec_id, a.sub
       |                    ORDER BY (2*dot - cn2) DESC, a.cid ASC) AS rn
       |           FROM padf a JOIN pcnf c ON a.cid = c.cid AND a.sub = c.sub)
       |          WHERE rn = 1),
       |qdims AS (SELECT qid, i - 1 AS d, qv[i] AS val FROM q, generate_series(1, 64) t(i)),
       |lut AS (SELECT a.qid, a.cid, a.sub, c.cn2 - 2 * a.qdot AS part
       |        FROM (SELECT qid, cid, d // 8 AS sub, sum(val * cval) AS qdot
       |              FROM qdims JOIN pc2 USING (d) GROUP BY 1, 2, 3) a
       |        JOIN pcnf c ON a.cid = c.cid AND a.sub = c.sub),
       |adc AS (SELECT cand.qid, cand.vec_id, CAST(sum(part) AS BIGINT) AS adc
       |        FROM cand JOIN codes c ON c.vec_id = cand.vec_id
       |             JOIN lut l ON l.qid = cand.qid AND l.sub = c.sub AND l.cid = c.cid
       |        GROUP BY 1, 2),
       |sel AS (SELECT qid, vec_id FROM (
       |         SELECT qid, vec_id,
       |                row_number() OVER (PARTITION BY qid
       |                  ORDER BY adc ASC, vec_id ASC) AS rn
       |         FROM adc) WHERE rn <= 32),
       |scored AS (
       |  SELECT sel.qid, sel.vec_id,
       |         CAST(CAST(list_sum(list_transform(range(1, len(v) + 1), i -> v[i] * qv[i])) AS BIGINT) AS DOUBLE)
       |           / (sqrt(CAST(n2 AS DOUBLE)) * sqrt(CAST(qn2 AS DOUBLE))) AS cosine
       |  FROM sel JOIN n ON sel.vec_id = n.vec_id JOIN q ON sel.qid = q.qid)
       |SELECT qid, rk, vec_id, cosine
       |FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id ASC) AS rk
       |      FROM scored) t
       |WHERE rk <= 5""".stripMargin
  }

  /** qx44 twin: IVFADC with residual encoding — trained two-level IMI
    * coarse quantizer (32-dim halves, generic subspace Lloyd), residuals
    * against the assigned cell's concatenated half-centroids, PQ
    * codebooks trained ON the residuals (8-dim subspaces, same generic
    * Lloyd), per-(query, probed cell) ADC tables + ‖q_res‖², top-32 by
    * (adc ASC, vec_id ASC), exact-cosine top-5 refine. */
  val qx44: String = ivfadcSql("", 5)

  /** qx124 twin — the recall-at-budget curve: ONE shared
    * [[IVFADC_TRAIN]] replay feeding four [[ivfadcServeCtes]] chains
    * (perLevel 1/2/3 probes × refine C 32/256), each folded against
    * the qx2 brute twin under the qx118 arithmetic, keyed by the
    * budget label. */
  val qx124: String =
    s"""WITH rb AS MATERIALIZED (
       |$qx2
       |),
       |$IVFADC_TRAIN,
       |${ivfadcServeCtes("ba", 1, 32, 5, "")},
       |${ivfadcServeCtes("bb", 2, 32, 5, "")},
       |${ivfadcServeCtes("bc", 2, 256, 5, "")},
       |${ivfadcServeCtes("bd", 3, 256, 5, "")},
       |srv AS (SELECT 'p1_c32' AS budget, qid, vec_id FROM resba
       |        UNION ALL SELECT 'p2_c32', qid, vec_id FROM resbb
       |        UNION ALL SELECT 'p2_c256', qid, vec_id FROM resbc
       |        UNION ALL SELECT 'p3_c256', qid, vec_id FROM resbd),
       |buds AS (SELECT unnest(['p1_c32', 'p2_c32', 'p2_c256', 'p3_c256']) AS budget),
       |pq AS (SELECT buds.budget, b.qid, CAST(coalesce(o.h, 0) AS BIGINT) AS h
       |       FROM buds CROSS JOIN (SELECT DISTINCT qid FROM rb) b
       |       LEFT JOIN (SELECT srv.budget, rb.qid, count(*) AS h
       |                  FROM rb JOIN srv ON rb.qid = srv.qid AND rb.vec_id = srv.vec_id
       |                  GROUP BY srv.budget, rb.qid) o
       |         ON buds.budget = o.budget AND b.qid = o.qid)
       |SELECT budget, CAST(h AS BIGINT) AS hits,
       |       CAST(count(*) AS BIGINT) AS n_queries,
       |       CAST(0 AS BIGINT) AS recall_micro
       |FROM pq GROUP BY budget, h
       |UNION ALL
       |SELECT budget, CAST(-1 AS BIGINT), CAST(count(*) AS BIGINT),
       |       CAST(1000000 * sum(h) // (5 * count(*)) AS BIGINT)
       |FROM pq GROUP BY budget""".stripMargin

  // Generic subspace-Lloyd step over a (vec_id, d, val) dims table;
  // cluster identity = (sub = d // width, cid).
  private def subspaceLloydStep(prefix: String, dims: String, width: Int,
                                cin: String, cout: String, i: Int): String =
      s"""${prefix}cn$i AS (SELECT cid, d // $width AS sub, sum(cval*cval) AS cn2
         |          FROM $cin GROUP BY 1, 2),
         |${prefix}ad$i AS (SELECT vec_id, cid, d // $width AS sub, sum(val * cval) AS dot
         |          FROM $dims JOIN $cin USING (d) GROUP BY 1, 2, 3),
         |${prefix}as$i AS (SELECT vec_id, sub, cid FROM (
         |           SELECT a.vec_id, a.sub, a.cid,
         |                  row_number() OVER (PARTITION BY a.vec_id, a.sub
         |                    ORDER BY (2*dot - cn2) DESC, a.cid ASC) AS rn
         |           FROM ${prefix}ad$i a JOIN ${prefix}cn$i c ON a.cid = c.cid AND a.sub = c.sub)
         |          WHERE rn = 1),
         |${prefix}up$i AS (SELECT a.cid, $dims.d, CAST(sum(val) // count(*) AS BIGINT) AS m
         |          FROM $dims JOIN ${prefix}as$i a
         |            ON $dims.vec_id = a.vec_id AND $dims.d // $width = a.sub
         |          GROUP BY 1, 2),
         |$cout AS (SELECT s.cid, s.d, COALESCE(u.m, s.cval) AS cval
         |          FROM $cin s LEFT JOIN ${prefix}up$i u ON s.cid = u.cid AND s.d = u.d)""".stripMargin
  /** Shared IVFADC TRAINING chain (both trained half-codebooks, corpus
    * cells, residual PQ codebooks and codes) — factored (round 15) so
    * the qx124 budget curve's four serve legs replay ONE training. */
  private lazy val IVFADC_TRAIN: String =
    s"""$EMB,
       |params AS (SELECT count(*) AS n FROM embeddings),
       |kk AS (SELECT CAST(least(65536, greatest(4,
       |         1 << ((length(bin(greatest(n // 64, 2))) - 1 + 1) // 2))) AS BIGINT) AS k
       |       FROM params),
       |ic0 AS (SELECT c AS cid, d + 32 * l.lvl AS d,
       |          (((c * 1000003 + (d + 32 * l.lvl) * 97 + CASE l.lvl WHEN 0 THEN 13 ELSE 29 END) % $P)
       |           * ((c * 1000003 + (d + 32 * l.lvl) * 97 + CASE l.lvl WHEN 0 THEN 13 ELSE 29 END) % $P))
       |            % $P % 2001 - 1000 AS cval
       |        FROM kk, unnest(range(0, k)) AS t(c), generate_series(0, 31) td(d),
       |             (VALUES (0), (1)) l(lvl)),
       |pdims AS MATERIALIZED (SELECT vec_id, i - 1 AS d, v[i] AS val FROM n, generate_series(1, 64) t(i)),
       |${subspaceLloydStep("i", "pdims", 32, "ic0", "ic1", 0)},
       |${subspaceLloydStep("i", "pdims", 32, "ic1", "ic2", 1)},
       |icnf AS MATERIALIZED (SELECT cid, d // 32 AS sub, sum(cval*cval) AS cn2 FROM ic2 GROUP BY 1, 2),
       |iadf AS MATERIALIZED (SELECT vec_id, cid, d // 32 AS sub, sum(val * cval) AS dot
       |         FROM pdims JOIN ic2 USING (d) GROUP BY 1, 2, 3),
       |iasf AS (SELECT vec_id, sub, cid FROM (
       |          SELECT a.vec_id, a.sub, a.cid,
       |                 row_number() OVER (PARTITION BY a.vec_id, a.sub
       |                   ORDER BY (2*dot - cn2) DESC, a.cid ASC) AS rn
       |          FROM iadf a JOIN icnf c ON a.cid = c.cid AND a.sub = c.sub)
       |         WHERE rn = 1),
       |cells AS MATERIALIZED (SELECT a0.vec_id, a0.cid * k + a1.cid AS cell
       |          FROM iasf a0, iasf a1, kk
       |          WHERE a0.vec_id = a1.vec_id AND a0.sub = 0 AND a1.sub = 1),
       |rdims AS MATERIALIZED (SELECT p.vec_id, p.d, p.val - s.cval AS val
       |          FROM pdims p
       |          JOIN iasf a ON p.vec_id = a.vec_id AND p.d // 32 = a.sub
       |          JOIN ic2 s ON s.cid = a.cid AND s.d = p.d),
       |pc0 AS (SELECT c AS cid, d,
       |          (((c * 1000003 + d * 97 + 37) % $P) * ((c * 1000003 + d * 97 + 37) % $P))
       |            % $P % 2001 - 1000 AS cval
       |        FROM unnest(range(0, 16)) AS t(c), generate_series(0, 63) td(d)),
       |${subspaceLloydStep("p", "rdims", 8, "pc0", "pc1", 0)},
       |${subspaceLloydStep("p", "rdims", 8, "pc1", "pc2", 1)},
       |pcnf AS MATERIALIZED (SELECT cid, d // 8 AS sub, sum(cval*cval) AS cn2 FROM pc2 GROUP BY 1, 2),
       |padf AS (SELECT vec_id, cid, d // 8 AS sub, sum(val * cval) AS dot
       |         FROM rdims JOIN pc2 USING (d) GROUP BY 1, 2, 3),
       |codes AS MATERIALIZED (SELECT vec_id, sub, cid FROM (
       |           SELECT a.vec_id, a.sub, a.cid,
       |                  row_number() OVER (PARTITION BY a.vec_id, a.sub
       |                    ORDER BY (2*dot - cn2) DESC, a.cid ASC) AS rn
       |           FROM padf a JOIN pcnf c ON a.cid = c.cid AND a.sub = c.sub)
       |          WHERE rn = 1)""".stripMargin

  /** ONE IVFADC serve as a CTE chain suffixed `$sfx` — query probe
    * (perLevel² cells), residual LUTs, ADC, top-`refineC` exact refine,
    * top-`k` emit into `res$sfx`. References only [[IVFADC_TRAIN]]
    * CTEs, so any number of serve chains (the qx124 budget curve)
    * share one training. */
  private def ivfadcServeCtes(sfx: String, perLevel: Int, refineC: Int,
                              k: Int, qExtra: String): String =
    s"""qpr$sfx AS (SELECT qid, sub, cid FROM (
       |          SELECT a.vec_id AS qid, a.sub, a.cid,
       |                 row_number() OVER (PARTITION BY a.vec_id, a.sub
       |                   ORDER BY (2*dot - cn2) DESC, a.cid ASC) AS rn
       |          FROM iadf a JOIN icnf c ON a.cid = c.cid AND a.sub = c.sub
       |          WHERE a.vec_id % 50 = 0$qExtra)
       |        WHERE rn <= $perLevel),
       |qcells$sfx AS (SELECT p0.qid, p0.cid * k + p1.cid AS cell
       |           FROM qpr$sfx p0, qpr$sfx p1, kk
       |           WHERE p0.qid = p1.qid AND p0.sub = 0 AND p1.sub = 1),
       |qrdims$sfx AS (SELECT qc.qid, qc.cell, p.d, p.val - s.cval AS val
       |           FROM qcells$sfx qc
       |           JOIN pdims p ON p.vec_id = qc.qid
       |           JOIN kk ON TRUE
       |           JOIN ic2 s ON s.d = p.d AND s.cid =
       |             CASE WHEN p.d // 32 = 0 THEN qc.cell // k ELSE qc.cell % k END),
       |qrn$sfx AS (SELECT qid, cell, CAST(sum(val*val) AS BIGINT) AS qrn2
       |        FROM qrdims$sfx GROUP BY 1, 2),
       |lut$sfx AS (SELECT a.qid, a.cell, a.cid, a.sub, c.cn2 - 2 * a.qdot AS part
       |        FROM (SELECT qid, cell, cid, d // 8 AS sub, sum(val * cval) AS qdot
       |              FROM qrdims$sfx JOIN pc2 USING (d) GROUP BY 1, 2, 3, 4) a
       |        JOIN pcnf c ON a.cid = c.cid AND a.sub = c.sub),
       |cand$sfx AS (SELECT qid, cell, vec_id
       |         FROM qcells$sfx JOIN cells USING (cell) WHERE vec_id <> qid),
       |adc0$sfx AS (SELECT cd.qid, cd.vec_id, cd.cell, CAST(sum(part) AS BIGINT) AS s
       |         FROM cand$sfx cd
       |         JOIN codes c ON c.vec_id = cd.vec_id
       |         JOIN lut$sfx l ON l.qid = cd.qid AND l.cell = cd.cell
       |              AND l.sub = c.sub AND l.cid = c.cid
       |         GROUP BY 1, 2, 3),
       |adc$sfx AS (SELECT a0.qid, a0.vec_id, s + qrn2 AS adc
       |        FROM adc0$sfx a0 JOIN qrn$sfx qr ON qr.qid = a0.qid AND qr.cell = a0.cell),
       |sel$sfx AS (SELECT qid, vec_id FROM (
       |         SELECT qid, vec_id,
       |                row_number() OVER (PARTITION BY qid
       |                  ORDER BY adc ASC, vec_id ASC) AS rn
       |         FROM adc$sfx) WHERE rn <= $refineC),
       |scored$sfx AS (
       |  SELECT s0.qid, s0.vec_id,
       |         CAST(CAST(list_sum(list_transform(range(1, len(v) + 1), i -> v[i] * qv[i])) AS BIGINT) AS DOUBLE)
       |           / (sqrt(CAST(n2 AS DOUBLE)) * sqrt(CAST(qn2 AS DOUBLE))) AS cosine
       |  FROM sel$sfx s0 JOIN n ON s0.vec_id = n.vec_id JOIN q ON s0.qid = q.qid),
       |res$sfx AS (SELECT qid, rk, vec_id, cosine
       |  FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id ASC) AS rk
       |        FROM scored$sfx) t
       |  WHERE rk <= $k)""".stripMargin

  /** The qx44 residual-IVFADC replay, parameterized for reuse by the
    * qx79b hybrid twin: `qExtra` further restricts the query-id slice
    * (appended to the `% 50 = 0` predicate) and `k` is the refined
    * top-k depth. */
  private def ivfadcSql(qExtra: String, k: Int): String =
    s"""WITH $IVFADC_TRAIN,
       |${ivfadcServeCtes("", 2, 32, k, qExtra)}
       |SELECT qid, rk, vec_id, cosine FROM res""".stripMargin

  val qx16: String =
    s"""WITH $KMEANS_ASSIGN,
       |qprobe AS (SELECT qid, cid FROM (
       |             SELECT a.vec_id AS qid, a.cid,
       |                    row_number() OVER (PARTITION BY a.vec_id
       |                      ORDER BY (2*dot - cn2) DESC, a.cid ASC) AS rn
       |             FROM adf a JOIN cnf USING (cid) WHERE a.vec_id % 50 = 0) WHERE rn <= 2),
       |cand AS (SELECT qid, vec_id FROM qprobe JOIN assign USING (cid) WHERE vec_id <> qid),
       |scored AS (
       |  SELECT cand.qid, cand.vec_id,
       |         CAST(CAST(list_sum(list_transform(range(1, len(v) + 1), i -> v[i] * qv[i])) AS BIGINT) AS DOUBLE)
       |           / (sqrt(CAST(n2 AS DOUBLE)) * sqrt(CAST(qn2 AS DOUBLE))) AS cosine
       |  FROM cand JOIN n ON cand.vec_id = n.vec_id JOIN q ON cand.qid = q.qid)
       |SELECT qid, rk, vec_id, cosine
       |FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id ASC) AS rk
       |      FROM scored) t
       |WHERE rk <= 5""".stripMargin

  /** qx38 twin: the same trained assignment, joined back to the labels —
    * per-cluster majority label (ties → smallest label) and its share. */
  val qx38: String =
    s"""WITH $KMEANS_ASSIGN,
       |cc AS (SELECT a.cid, CAST(e.label AS BIGINT) AS label, CAST(count(*) AS BIGINT) AS cnt
       |       FROM assign a JOIN embeddings e USING (vec_id) GROUP BY 1, 2),
       |tot AS (SELECT cid, CAST(sum(cnt) AS BIGINT) AS n_vecs FROM cc GROUP BY cid),
       |top AS (SELECT cid, label AS top_label, cnt AS top_cnt
       |        FROM (SELECT cid, label, cnt,
       |                     row_number() OVER (PARTITION BY cid
       |                       ORDER BY cnt DESC, label ASC) AS rn
       |              FROM cc) t
       |        WHERE rn = 1)
       |SELECT t.cid, n_vecs, top_label, top_cnt,
       |       CAST(top_cnt AS DOUBLE) / CAST(n_vecs AS DOUBLE) AS share
       |FROM top t JOIN tot USING (cid)""".stripMargin

  /** qx17 twin: identical rolling 8-word window hash, ≥2-and-≤64 doc
    * frequency cap, pair count of shared windows. */
  val qx17: String = {
    val W = 8
    val fold = (1 until W).foldLeft("h[i]")((acc, j) => s"(($acc) * 1009 + h[i+$j]) % $P")
    s"""WITH $DOCS,
       |wins AS (SELECT DISTINCT doc_id,
       |           unnest(list_transform(range(1, len(h) - ${W - 2}), i -> $fold)) AS s
       |         FROM wh WHERE len(h) >= $W),
       |keep AS (SELECT s FROM (SELECT s, count(*) AS cnt FROM wins GROUP BY s)
       |         WHERE cnt BETWEEN 2 AND 64)
       |SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS shared_windows
       |FROM wins x JOIN wins y USING (s) JOIN keep USING (s)
       |WHERE x.doc_id < y.doc_id
       |GROUP BY 1, 2""".stripMargin
  }

  /** qx29 twin: qx17's window-hash base, cross-joined against the qx21
    * sample's windows — per (train doc, eval doc) shared-window counts. */
  val qx29: String = {
    val W = 8
    val fold = (1 until W).foldLeft("h[i]")((acc, j) => s"(($acc) * 1009 + h[i+$j]) % $P")
    s"""WITH $DOCS,
       |wins AS (SELECT DISTINCT doc_id,
       |           unnest(list_transform(range(1, len(h) - ${W - 2}), i -> $fold)) AS s
       |         FROM wh WHERE len(h) >= $W),
       |ev AS (SELECT doc_id AS eval_doc
       |       FROM (SELECT lang, doc_id,
       |               row_number() OVER (PARTITION BY lang
       |                 ORDER BY (doc_id * 1000003 + 12345) % $P ASC, doc_id ASC) AS rk
       |             FROM documents) t
       |       WHERE rk <= 8),
       |evw AS (SELECT s, eval_doc FROM wins JOIN ev ON wins.doc_id = ev.eval_doc)
       |SELECT w.doc_id, e.eval_doc, count(*) AS shared_windows
       |FROM wins w JOIN evw e USING (s)
       |WHERE w.doc_id <> e.eval_doc
       |GROUP BY 1, 2""".stripMargin
  }

  /** qx30 twin: 80/10/10 split by sampling-hash band, per-(lang, split)
    * doc and token counts. */
  val qx30: String =
    s"""WITH $DOCS,
       |t AS (SELECT lang, CAST(len(ws) AS BIGINT) AS n_tokens,
       |             ((doc_id * 1000003 + 12345) % $P) % 100 AS b
       |      FROM docs)
       |SELECT lang,
       |       CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split,
       |       CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
       |FROM t GROUP BY 1, 2""".stripMargin

  /** qx18 twin: per-source distinct shingles + KMV estimate from the
    * k-th smallest affine hash (k = 128), exact below k. */
  val qx18: String =
    s"""WITH $DOCS,
       |srcsh AS (SELECT DISTINCT d.source, t.s
       |          FROM sh JOIN documents d USING (doc_id), unnest(sh.shingles) AS t(s)),
       |hashed AS (SELECT source, (s * 1000003 + 997) % $P AS h FROM srcsh),
       |ranked AS (SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h ASC) AS rn,
       |                  count(*) OVER (PARTITION BY source) AS cnt
       |           FROM hashed)
       |SELECT source, CAST(max(cnt) AS BIGINT) AS n_exact,
       |       CASE WHEN max(cnt) <= 128 OR max(CASE WHEN rn = 128 THEN h END) = 0
       |            THEN CAST(max(cnt) AS DOUBLE)
       |            ELSE 127.0 * 2147483647.0 / max(CASE WHEN rn = 128 THEN h END)
       |       END AS kmv_est
       |FROM ranked GROUP BY source""".stripMargin

  /** qx19 twin: word-hash frequency per language (multiset), top-20 by
    * (count DESC, hash ASC). */
  val qx19: String =
    s"""WITH $DOCS,
       |whm AS (SELECT lang, unnest(list_transform(ws,
       |          w -> list_reduce([CAST(0 AS BIGINT)] ||
       |                 list_transform(string_split(w, ''), c -> CAST(ascii(c) AS BIGINT)),
       |                           (a, b) -> (a*31 + b) % 1000003))) AS wh
       |        FROM docs),
       |cnts AS (SELECT lang, wh, count(*) AS cnt FROM whm GROUP BY lang, wh)
       |SELECT lang, rk, wh, cnt
       |FROM (SELECT lang, wh, cnt,
       |             CAST(row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, wh ASC) AS INT) AS rk
       |      FROM cnts) t
       |WHERE rk <= 20""".stripMargin

  /** qx23 twin: nearest-rank per-source token-length quantiles, integer
    * rank arithmetic ((cnt·q + 99) // 100) — float-free in both engines. */
  val qx23: String =
    s"""WITH $DOCS,
       |t AS (SELECT source, CAST(len(ws) AS BIGINT) AS n_tokens FROM docs),
       |r AS (SELECT source, n_tokens,
       |             CAST(row_number() OVER (PARTITION BY source ORDER BY n_tokens) AS BIGINT) AS rn,
       |             CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS cnt
       |      FROM t)
       |SELECT source, CAST(max(cnt) AS BIGINT) AS n_docs,
       |       max(CASE WHEN rn = (cnt * 50 + 99) // 100 THEN n_tokens END) AS p50,
       |       max(CASE WHEN rn = (cnt * 90 + 99) // 100 THEN n_tokens END) AS p90,
       |       max(CASE WHEN rn = (cnt * 99 + 99) // 100 THEN n_tokens END) AS p99
       |FROM r GROUP BY source""".stripMargin

  /** qx24 twin: 64-word chunks at stride 48 over the word-hash list,
    * per-chunk Horner hash. Chunk count kept non-negative before the
    * division (`//` floors here, `div` truncates there — they agree
    * only on non-negative operands). */
  val qx24: String =
    s"""WITH $DOCS,
       |c AS (SELECT doc_id, CAST(len(h) AS BIGINT) AS n, h FROM wh WHERE len(h) > 0),
       |ch AS (SELECT doc_id,
       |              unnest(range(0, (greatest(n - 64, 0) + 47) // 48 + 1)) AS chunk_id,
       |              h, n
       |       FROM c)
       |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
       |       CAST(len(list_slice(h, chunk_id * 48 + 1, chunk_id * 48 + 64)) AS BIGINT) AS n_tokens,
       |       list_reduce([CAST(0 AS BIGINT)] || list_slice(h, chunk_id * 48 + 1, chunk_id * 48 + 64),
       |                   (a, x) -> (a * 1009 + x) % $P) AS chunk_hash
       |FROM ch""".stripMargin

  /** qx25 twin: chunk-level packing into 256-token sequences per source
    * by cumulative start offset in (doc_id, chunk_id) order. */
  val qx25: String =
    s"""WITH $DOCS,
       |c AS (SELECT doc_id, CAST(len(h) AS BIGINT) AS n, h FROM wh WHERE len(h) > 0),
       |ch AS (SELECT doc_id,
       |              unnest(range(0, (greatest(n - 64, 0) + 47) // 48 + 1)) AS chunk_id,
       |              h
       |       FROM c),
       |tok AS (SELECT ch.doc_id, chunk_id,
       |               CAST(len(list_slice(h, chunk_id * 48 + 1, chunk_id * 48 + 64)) AS BIGINT) AS n_tokens,
       |               d.source
       |        FROM ch JOIN documents d ON ch.doc_id = d.doc_id),
       |offs AS (SELECT source, n_tokens,
       |                COALESCE(CAST(sum(n_tokens) OVER (PARTITION BY source
       |                  ORDER BY doc_id, chunk_id
       |                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS off
       |         FROM tok)
       |SELECT source, off // 256 AS seq_id,
       |       count(*) AS n_chunks, CAST(sum(n_tokens) AS BIGINT) AS n_tokens
       |FROM offs GROUP BY source, off // 256""".stripMargin

  /** qx26 twin: per-doc 3 rarest terms by global document frequency,
    * ties by hash — integer-only (no idf log). */
  val qx26: String =
    s"""WITH $DOCS,
       |dt AS (SELECT DISTINCT doc_id, unnest(h) AS wh FROM wh),
       |dfs AS (SELECT wh, CAST(count(*) AS BIGINT) AS df FROM dt GROUP BY wh)
       |SELECT doc_id, rk, wh, df
       |FROM (SELECT dt.doc_id, dt.wh, dfs.df,
       |             CAST(row_number() OVER (PARTITION BY dt.doc_id
       |               ORDER BY dfs.df ASC, dt.wh ASC) AS INT) AS rk
       |      FROM dt JOIN dfs USING (wh)) t
       |WHERE rk <= 3""".stripMargin

  private val MH_TABLE: String = {
    val mhs = (0 until 16).map(mhExpr).mkString("[", ", ", "]")
    s"mh AS (SELECT doc_id, $mhs AS m FROM sh)"
  }

  private val BANDS: String = {
    val sigs = (0 until 4).map(b => s"WHEN ${b} THEN ${bandSigSql(4 * b, 4 * b + 3)}").mkString(" ")
    s"""bands AS (SELECT doc_id, b, CASE b $sigs END AS sig
       |          FROM mh, generate_series(0, 3) t(b))""".stripMargin
  }

  val qx4: String =
    s"""WITH $DOCS, $MH_TABLE, $BANDS
       |SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |FROM bands x JOIN bands y ON x.b = y.b AND x.sig = y.sig AND x.doc_id < y.doc_id""".stripMargin

  /** qx41 twin: incremental admission — batch (doc_id % 10 = 7) banded
    * against the standing corpus, candidates verified by ≥8/16 equal
    * minhashes, verdict precedence corpus_dup > batch_dup > admitted. */
  val qx41: String =
    s"""WITH $DOCS, $MH_TABLE, $BANDS,
       |cc AS (SELECT n.doc_id AS new_id, c.doc_id AS other_id
       |       FROM bands n JOIN bands c ON n.b = c.b AND n.sig = c.sig
       |       WHERE n.doc_id % 10 = 7 AND c.doc_id % 10 <> 7
       |       GROUP BY 1, 2),
       |bc AS (SELECT n.doc_id AS new_id, p.doc_id AS other_id
       |       FROM bands n JOIN bands p ON n.b = p.b AND n.sig = p.sig
       |            AND p.doc_id < n.doc_id
       |       WHERE n.doc_id % 10 = 7 AND p.doc_id % 10 = 7
       |       GROUP BY 1, 2),
       |cv AS (SELECT new_id, min(other_id) AS corpus_dup_of
       |       FROM cc JOIN mh x ON x.doc_id = cc.new_id
       |               JOIN mh y ON y.doc_id = cc.other_id
       |       WHERE len(list_filter(range(1, 17), i -> x.m[i] = y.m[i])) >= 8
       |       GROUP BY new_id),
       |bv AS (SELECT new_id, min(other_id) AS batch_dup_of
       |       FROM bc JOIN mh x ON x.doc_id = bc.new_id
       |               JOIN mh y ON y.doc_id = bc.other_id
       |       WHERE len(list_filter(range(1, 17), i -> x.m[i] = y.m[i])) >= 8
       |       GROUP BY new_id)
       |SELECT d.doc_id,
       |       CASE WHEN cv.corpus_dup_of IS NOT NULL THEN 'corpus_dup'
       |            WHEN bv.batch_dup_of IS NOT NULL THEN 'batch_dup'
       |            ELSE 'admitted' END AS verdict,
       |       COALESCE(cv.corpus_dup_of, bv.batch_dup_of, CAST(-1 AS BIGINT)) AS dup_of
       |FROM documents d
       |LEFT JOIN cv ON cv.new_id = d.doc_id
       |LEFT JOIN bv ON bv.new_id = d.doc_id
       |WHERE d.doc_id % 10 = 7""".stripMargin

  /** qx21 twin: per-language min-8 docs by the affine sampling hash,
    * ranked (h ASC, doc_id ASC) — the window spelling of the Spark
    * side's bounded min-k aggregate. */
  val qx21: String =
    s"""SELECT lang, rk, doc_id
       |FROM (SELECT lang, doc_id,
       |             CAST(row_number() OVER (PARTITION BY lang
       |               ORDER BY (doc_id * 1000003 + 12345) % $P ASC, doc_id ASC) AS INT) AS rk
       |      FROM documents) t
       |WHERE rk <= 8""".stripMargin

  /** qx27 twin: proportional allocation quota_s = max(1, n_s·50 // n),
    * same hash-rank pick as qx21. */
  val qx27: String =
    s"""WITH s AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_s FROM documents GROUP BY lang),
       |t AS (SELECT CAST(sum(n_s) AS BIGINT) AS n_tot FROM s),
       |q AS (SELECT lang, greatest(1, (n_s * 50) // n_tot) AS quota FROM s, t),
       |r AS (SELECT lang, doc_id,
       |             CAST(row_number() OVER (PARTITION BY lang
       |               ORDER BY (doc_id * 1000003 + 12345) % $P ASC, doc_id ASC) AS INT) AS rk
       |      FROM documents)
       |SELECT r.lang, rk, doc_id
       |FROM r JOIN q ON r.lang = q.lang
       |WHERE rk <= quota""".stripMargin

  /** qx22 twin: quality gate (≥30 tokens) → drop non-representative
    * near-dup cluster members (qx20's recursive components) → admit per
    * language in sampling-hash order while the running token sum stays
    * ≤ 2000. The oracle needs no candidate pruning — the budget prefix
    * is the same set either way. */
  val qx22: String =
    s"""WITH RECURSIVE $DOCS, $MH_TABLE, $BANDS,
       |pairs AS (SELECT DISTINCT x.doc_id AS pa, y.doc_id AS pb
       |          FROM bands x JOIN bands y ON x.b = y.b AND x.sig = y.sig AND x.doc_id < y.doc_id),
       |sym AS (SELECT pa, pb FROM pairs UNION SELECT pb, pa FROM pairs),
       |reach(src, dst) AS (
       |  SELECT pa, pb FROM sym
       |  UNION
       |  SELECT r.src, s.pb FROM reach r JOIN sym s ON r.dst = s.pa
       |),
       |comp AS (SELECT src AS doc_id, least(src, min(dst)) AS rep
       |         FROM reach GROUP BY src),
       |toks AS (SELECT doc_id, lang, CAST(len(ws) AS BIGINT) AS n_tokens,
       |                (doc_id * 1000003 + 12345) % $P AS h
       |         FROM docs WHERE len(ws) >= 30),
       |kept AS (SELECT t.* FROM toks t LEFT JOIN comp c USING (doc_id)
       |         WHERE c.rep IS NULL OR c.rep = t.doc_id),
       |sel AS (SELECT lang, doc_id, n_tokens,
       |               CAST(sum(n_tokens) OVER (PARTITION BY lang
       |                 ORDER BY h ASC, doc_id ASC
       |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
       |        FROM kept)
       |SELECT lang, doc_id, n_tokens, cum_tokens FROM sel WHERE cum_tokens <= 2000""".stripMargin

  /** qx45 twin: qx22's chain with the decontamination stage inserted —
    * toks additionally excludes the eval sample and every doc sharing
    * an 8-word window with it (the oracle uses the exact join; the
    * Spark side's bloom prescreen + confirm is exact-equivalent by
    * construction). */
  val qx45: String = {
    val W = 8
    val fold = (1 until W).foldLeft("h[i]")((acc, j) => s"(($acc) * 1009 + h[i+$j]) % $P")
    s"""WITH RECURSIVE $DOCS, $MH_TABLE, $BANDS,
       |pairs AS (SELECT DISTINCT x.doc_id AS pa, y.doc_id AS pb
       |          FROM bands x JOIN bands y ON x.b = y.b AND x.sig = y.sig AND x.doc_id < y.doc_id),
       |sym AS (SELECT pa, pb FROM pairs UNION SELECT pb, pa FROM pairs),
       |reach(src, dst) AS (
       |  SELECT pa, pb FROM sym
       |  UNION
       |  SELECT r.src, s.pb FROM reach r JOIN sym s ON r.dst = s.pa
       |),
       |comp AS (SELECT src AS doc_id, least(src, min(dst)) AS rep
       |         FROM reach GROUP BY src),
       |wins AS (SELECT DISTINCT doc_id,
       |           unnest(list_transform(range(1, len(h) - ${W - 2}), i -> $fold)) AS s
       |         FROM wh WHERE len(h) >= $W),
       |ev AS (SELECT doc_id AS eval_doc
       |       FROM (SELECT lang, doc_id,
       |               row_number() OVER (PARTITION BY lang
       |                 ORDER BY (doc_id * 1000003 + 12345) % $P ASC, doc_id ASC) AS rk
       |             FROM documents) t
       |       WHERE rk <= 8),
       |evw AS (SELECT DISTINCT s FROM wins JOIN ev ON wins.doc_id = ev.eval_doc),
       |flag AS (SELECT DISTINCT w.doc_id FROM wins w JOIN evw USING (s)
       |         WHERE w.doc_id NOT IN (SELECT eval_doc FROM ev)),
       |toks AS (SELECT doc_id, lang, CAST(len(ws) AS BIGINT) AS n_tokens,
       |                (doc_id * 1000003 + 12345) % $P AS h
       |         FROM docs WHERE len(ws) >= 30
       |           AND doc_id NOT IN (SELECT eval_doc FROM ev)
       |           AND doc_id NOT IN (SELECT doc_id FROM flag)),
       |kept AS (SELECT t.* FROM toks t LEFT JOIN comp c USING (doc_id)
       |         WHERE c.rep IS NULL OR c.rep = t.doc_id),
       |sel AS (SELECT lang, doc_id, n_tokens,
       |               CAST(sum(n_tokens) OVER (PARTITION BY lang
       |                 ORDER BY h ASC, doc_id ASC
       |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
       |        FROM kept)
       |SELECT lang, doc_id, n_tokens, cum_tokens FROM sel WHERE cum_tokens <= 2000""".stripMargin
  }

  /** qx20 twin: the qx4 pair set closed into components by a recursive
    * transitive-closure CTE, each node labeled min(reachable ∪ self) —
    * the same labeling star contraction converges to. Transitive closure
    * is O(n·m) and fine at oracle scale; the Spark side's O(log n)
    * contraction is the production form. */
  /** The qx20 transitive-closure chain ending in `rep0(doc_id, rep)` —
    * shared with qx115's leakage-safe splits. */
  private lazy val DUP_REP_CHAIN: String =
    s"""$DOCS, $MH_TABLE, $BANDS,
       |pairs AS (SELECT DISTINCT x.doc_id AS pa, y.doc_id AS pb
       |          FROM bands x JOIN bands y ON x.b = y.b AND x.sig = y.sig AND x.doc_id < y.doc_id),
       |sym AS (SELECT pa, pb FROM pairs UNION SELECT pb, pa FROM pairs),
       |reach(src, dst) AS (
       |  SELECT pa, pb FROM sym
       |  UNION
       |  SELECT r.src, s.pb FROM reach r JOIN sym s ON r.dst = s.pa
       |),
       |rep0 AS (SELECT src AS doc_id, least(src, min(dst)) AS rep
       |         FROM reach GROUP BY src)""".stripMargin

  val qx20: String =
    s"""WITH RECURSIVE $DUP_REP_CHAIN
       |SELECT doc_id, rep FROM rep0""".stripMargin

  /** qx115 twin — the closure chain plus singleton reps for unclustered
    * docs, both split schemes from the same affine hash, per-(scheme,
    * split) folds and the per-scheme leaky-cluster counts. */
  val qx115: String = {
    def bucket(e: String) =
      s"CASE WHEN (($e * 1000003 + 12345) % $P % 10) < 8 THEN 0 " +
        s"WHEN (($e * 1000003 + 12345) % $P % 10) = 8 THEN 1 ELSE 2 END"
    s"""WITH RECURSIVE $DUP_REP_CHAIN,
       |repx AS MATERIALIZED (SELECT d.doc_id, coalesce(r.rep, d.doc_id) AS rep
       |        FROM documents d LEFT JOIN rep0 r ON d.doc_id = r.doc_id),
       |asn AS MATERIALIZED (SELECT doc_id, rep,
       |         CAST(${bucket("rep")} AS BIGINT) AS cl_split,
       |         CAST(${bucket("doc_id")} AS BIGINT) AS doc_split
       |       FROM repx)
       |SELECT 'cluster' AS scheme, cl_split AS split,
       |       CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(count(DISTINCT rep) AS BIGINT) AS n_clusters
       |FROM asn GROUP BY cl_split
       |UNION ALL
       |SELECT 'dochash', doc_split,
       |       CAST(count(*) AS BIGINT), CAST(count(DISTINCT rep) AS BIGINT)
       |FROM asn GROUP BY doc_split
       |UNION ALL
       |SELECT 'cluster', CAST(-1 AS BIGINT), CAST(0 AS BIGINT), CAST(count(*) AS BIGINT)
       |FROM (SELECT rep FROM asn GROUP BY rep HAVING count(DISTINCT cl_split) > 1) z1
       |UNION ALL
       |SELECT 'dochash', CAST(-1 AS BIGINT), CAST(0 AS BIGINT), CAST(count(*) AS BIGINT)
       |FROM (SELECT rep FROM asn GROUP BY rep HAVING count(DISTINCT doc_split) > 1) z2""".stripMargin
  }

  val qx5: String = {
    val sums = (0 until 16)
      .map(bit => s"sum(((x // ${1L << bit}) % 2) * 2 - 1) AS s$bit").mkString(", ")
    val combine = (0 until 16)
      .map(bit => s"CASE WHEN s$bit > 0 THEN ${1L << bit} ELSE 0 END").mkString(" + ")
    s"""WITH $DOCS,
       |pw AS (SELECT doc_id, unnest(h) AS x FROM wh),
       |bs AS (SELECT doc_id, $sums FROM pw GROUP BY doc_id)
       |SELECT doc_id, CAST($combine AS BIGINT) AS simhash FROM bs""".stripMargin
  }

  /** SimHashLsh twin: 4 fixed bands × w = max(15, keyBitsFor) derived
    * fingerprint bits per band (keyBitsFor = least(30, greatest(6,
    * length(bin(greatest(n//32, 2))) − 1))), identical quadratic-residue
    * vote parity, per-band sig longs, bucket key = the FULL band sig,
    * Hamming = Σ_bands bit_count(xor). */
  val qx14: String =
    s"""WITH $DOCS,
       |params AS (SELECT count(*) AS n FROM documents),
       |pp AS (SELECT CAST(greatest(15, least(30, greatest(6, length(bin(greatest(n // 32, 2))) - 1))) AS BIGINT) AS w
       |       FROM params),
       |pw AS (SELECT doc_id, unnest(h) AS x FROM wh),
       |votes AS (SELECT doc_id, g,
       |            sum(CASE WHEN ((x*31 + g*97 + 11) * (x*31 + g*97 + 11))
       |                           % $P % 2 = 0 THEN 1 ELSE -1 END) AS s
       |          FROM pw, pp, unnest(range(0, 4 * w)) AS t(g) GROUP BY doc_id, g),
       |sigs AS (SELECT doc_id, g // w AS band,
       |           CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << (g % w)) ELSE 0 END) AS BIGINT) AS sig
       |         FROM votes, pp GROUP BY doc_id, g // w),
       |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |         FROM sigs x JOIN sigs y
       |           ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id),
       |ham AS (SELECT doc_a, doc_b, CAST(sum(bit_count(xor(a.sig, b.sig))) AS BIGINT) AS hamming
       |        FROM cand
       |        JOIN sigs a ON cand.doc_a = a.doc_id
       |        JOIN sigs b ON cand.doc_b = b.doc_id AND a.band = b.band
       |        GROUP BY doc_a, doc_b)
       |SELECT doc_a, doc_b, hamming FROM ham WHERE hamming <= 3""".stripMargin

  val qx6: String =
    s"""WITH $DOCS, $MH_TABLE, $BANDS,
       |cands AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |          FROM bands x JOIN bands y ON x.b = y.b AND x.sig = y.sig AND x.doc_id < y.doc_id),
       |ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
       |sizes AS (SELECT doc_id, CAST(len(shingles) AS BIGINT) AS n FROM sh),
       |inter AS (SELECT doc_a, doc_b, count(*) AS inter
       |          FROM cands
       |          JOIN ex ea ON cands.doc_a = ea.doc_id
       |          JOIN ex eb ON cands.doc_b = eb.doc_id AND ea.s = eb.s
       |          GROUP BY doc_a, doc_b)
       |SELECT doc_a, doc_b, inter,
       |       CAST(inter AS DOUBLE) / CAST(na.n + nb.n - inter AS DOUBLE) AS jaccard
       |FROM inter JOIN sizes na ON doc_a = na.doc_id JOIN sizes nb ON doc_b = nb.doc_id
       |WHERE CAST(inter AS DOUBLE) / CAST(na.n + nb.n - inter AS DOUBLE) >= 0.5""".stripMargin

  val qx7: String =
    s"""WITH $DOCS,
       |per AS (SELECT lang, source, n_chars,
       |          CAST(len(ws) AS BIGINT) AS n_tokens,
       |          CAST(COALESCE(list_sum(list_transform(ws, w -> length(w))), 0) AS BIGINT) AS n_word_chars,
       |          CAST(len(list_filter(ws, w -> w = 'the' OR w = 'a')) AS BIGINT) AS n_stop
       |        FROM docs)
       |SELECT lang, source, count(*) AS n_docs,
       |       CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
       |       CAST(sum(n_word_chars) AS BIGINT) AS sum_word_chars,
       |       CAST(sum(n_stop) AS BIGINT) AS sum_stop,
       |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       |       CAST(sum(n_stop) AS DOUBLE) / CAST(sum(n_tokens) AS DOUBLE) AS stop_ratio
       |FROM per GROUP BY lang, source""".stripMargin

  val qx8: String =
    s"""WITH $DOCS,
       |per AS (SELECT source, lang,
       |          CAST(len(list_filter(ws, w -> w = 'the' OR w = 'a')) AS DOUBLE)
       |            / CAST(len(ws) AS DOUBLE) > 0.05 AS pred_en
       |        FROM docs)
       |SELECT source, count(*) AS n_docs,
       |       CAST(sum(CASE WHEN pred_en THEN 1 ELSE 0 END) AS BIGINT) AS n_pred_en,
       |       CAST(sum(CASE WHEN pred_en = (lang = 'en') THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
       |FROM per GROUP BY source""".stripMargin

  val qx9: String =
    """WITH per AS (SELECT source,
      |          CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_bpe,
      |          CAST(len(list_filter(string_split(text, ' '), w -> length(w) > 0)) AS BIGINT) AS n_ws
      |        FROM documents)
      |SELECT source, CAST(sum(n_bpe) AS BIGINT) AS sum_bpe_tokens,
      |       CAST(sum(n_ws) AS BIGINT) AS sum_ws_tokens
      |FROM per GROUP BY source""".stripMargin

  val qx10: String =
    s"""WITH $DOCS
       |SELECT doc_id,
       |       list_reduce([CAST(0 AS BIGINT)] || h, (a, b) -> (a * 1000003 + b) % $P) AS fingerprint
       |FROM wh""".stripMargin

  /** qx37 twin: pairwise shared distinct shingles + Jaccard over the
    * same (source, s) distinct table. */
  val qx37: String =
    s"""WITH $DOCS,
       |srcsh AS (SELECT DISTINCT d.source, t.s
       |          FROM sh JOIN documents d USING (doc_id), unnest(sh.shingles) AS t(s)),
       |sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM srcsh GROUP BY source),
       |inter AS (SELECT a.source AS src_a, b.source AS src_b, CAST(count(*) AS BIGINT) AS inter
       |          FROM srcsh a JOIN srcsh b ON a.s = b.s AND a.source < b.source
       |          GROUP BY 1, 2)
       |SELECT src_a, src_b, inter,
       |       CAST(inter AS DOUBLE) / CAST(na.n + nb.n - inter AS DOUBLE) AS jaccard
       |FROM inter JOIN sizes na ON src_a = na.source JOIN sizes nb ON src_b = nb.source""".stripMargin

  /** qx39 twin: per-source KMV min-128 lists, pairwise merged-sketch
    * union estimate + inclusion–exclusion intersection — every
    * intermediate an integer order statistic, identical float spelling. */
  val qx39: String =
    s"""WITH $DOCS,
       |srcsh AS (SELECT DISTINCT d.source, t.s
       |          FROM sh JOIN documents d USING (doc_id), unnest(sh.shingles) AS t(s)),
       |hashed AS (SELECT source, (s * 1000003 + 997) % $P AS h FROM srcsh),
       |rk AS (SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h ASC) AS rn
       |       FROM hashed),
       |sk AS (SELECT source, list(h ORDER BY h ASC) AS hs FROM rk WHERE rn <= 128 GROUP BY source),
       |pairs AS (
       |  SELECT a.source AS src_a, b.source AS src_b,
       |         len(a.hs) AS a_n, len(b.hs) AS b_n,
       |         CASE WHEN len(a.hs) < 128 THEN 0 ELSE a.hs[128] END AS a_kth,
       |         CASE WHEN len(b.hs) < 128 THEN 0 ELSE b.hs[128] END AS b_kth,
       |         list_slice(list_sort(list_distinct(a.hs || b.hs)), 1, 128) AS u
       |  FROM sk a JOIN sk b ON a.source < b.source),
       |ests AS (
       |  SELECT src_a, src_b,
       |         CASE WHEN a_n < 128 THEN CAST(a_n AS DOUBLE)
       |              ELSE 127.0 * 2147483647.0 / CAST(a_kth AS DOUBLE) END AS est_a,
       |         CASE WHEN b_n < 128 THEN CAST(b_n AS DOUBLE)
       |              ELSE 127.0 * 2147483647.0 / CAST(b_kth AS DOUBLE) END AS est_b,
       |         CASE WHEN len(u) < 128 THEN CAST(len(u) AS DOUBLE)
       |              ELSE 127.0 * 2147483647.0 / CAST(u[128] AS DOUBLE) END AS est_union
       |  FROM pairs)
       |SELECT src_a, src_b, est_a, est_b, est_union,
       |       greatest(0.0, est_a + est_b - est_union) AS est_inter
       |FROM ests""".stripMargin

  /** qx32 twin: the Bloom filter is INVISIBLE to the oracle — no false
    * negatives plus exact confirm means the composed Spark plan computes
    * the plain distinct-shared-window count, which is all the SQL says. */
  val qx32: String = {
    val W = 8
    val fold = (1 until W).foldLeft("h[i]")((acc, j) => s"(($acc) * 1009 + h[i+$j]) % $P")
    s"""WITH $DOCS,
       |wins AS (SELECT DISTINCT doc_id,
       |           unnest(list_transform(range(1, len(h) - ${W - 2}), i -> $fold)) AS s
       |         FROM wh WHERE len(h) >= $W),
       |ev AS (SELECT doc_id AS eval_doc
       |       FROM (SELECT lang, doc_id,
       |               row_number() OVER (PARTITION BY lang
       |                 ORDER BY (doc_id * 1000003 + 12345) % $P ASC, doc_id ASC) AS rk
       |             FROM documents) t
       |       WHERE rk <= 8),
       |evw AS (SELECT DISTINCT s FROM wins JOIN ev ON wins.doc_id = ev.eval_doc)
       |SELECT w.doc_id, CAST(count(*) AS BIGINT) AS n_shared
       |FROM wins w JOIN evw USING (s)
       |WHERE w.doc_id NOT IN (SELECT eval_doc FROM ev)
       |GROUP BY w.doc_id""".stripMargin
  }

  /** qx33 twin: the same d×w cell grid, affine column hashes, min over
    * rows at the qx19-style top-5 probes. */
  val qx33: String =
    s"""WITH $DOCS,
       |whm AS (SELECT lang, unnest(h) AS wh FROM wh),
       |cells AS (SELECT lang, i,
       |                 ((wh * (1000003*(i+1) + 31) + 977*(i+1)) % $P) % 1024 AS c,
       |                 CAST(count(*) AS BIGINT) AS cell_cnt
       |          FROM whm, unnest(range(0, 4)) t(i)
       |          GROUP BY 1, 2, 3),
       |cnts AS (SELECT lang, wh, CAST(count(*) AS BIGINT) AS exact FROM whm GROUP BY 1, 2),
       |probes AS (SELECT lang, rk, wh, exact
       |           FROM (SELECT lang, wh, exact,
       |                        CAST(row_number() OVER (PARTITION BY lang
       |                          ORDER BY exact DESC, wh ASC) AS INT) AS rk
       |                 FROM cnts) t
       |           WHERE rk <= 5),
       |pc AS (SELECT lang, rk, wh, exact, i,
       |              ((wh * (1000003*(i+1) + 31) + 977*(i+1)) % $P) % 1024 AS c
       |       FROM probes, unnest(range(0, 4)) t(i))
       |SELECT pc.lang, rk, wh, exact, CAST(min(cell_cnt) AS BIGINT) AS cms_est
       |FROM pc JOIN cells ON pc.lang = cells.lang AND pc.i = cells.i AND pc.c = cells.c
       |GROUP BY 1, 2, 3, 4""".stripMargin

  /** qx40 twin: qx30's split banding × qx32's kill list, per-(lang,
    * split) doc and contaminated-doc counts. */
  val qx40: String = {
    val W = 8
    val fold = (1 until W).foldLeft("h[i]")((acc, j) => s"(($acc) * 1009 + h[i+$j]) % $P")
    s"""WITH $DOCS,
       |wins AS (SELECT DISTINCT doc_id,
       |           unnest(list_transform(range(1, len(h) - ${W - 2}), i -> $fold)) AS s
       |         FROM wh WHERE len(h) >= $W),
       |ev AS (SELECT doc_id AS eval_doc
       |       FROM (SELECT lang, doc_id,
       |               row_number() OVER (PARTITION BY lang
       |                 ORDER BY (doc_id * 1000003 + 12345) % $P ASC, doc_id ASC) AS rk
       |             FROM documents) t
       |       WHERE rk <= 8),
       |evw AS (SELECT DISTINCT s FROM wins JOIN ev ON wins.doc_id = ev.eval_doc),
       |killed AS (SELECT DISTINCT w.doc_id FROM wins w JOIN evw USING (s)
       |           WHERE w.doc_id NOT IN (SELECT eval_doc FROM ev)),
       |t AS (SELECT d.doc_id, lang,
       |             ((d.doc_id * 1000003 + 12345) % $P) % 100 AS b,
       |             CASE WHEN k.doc_id IS NULL THEN 0 ELSE 1 END AS contam
       |      FROM documents d LEFT JOIN killed k ON d.doc_id = k.doc_id)
       |SELECT lang,
       |       CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split,
       |       CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(contam) AS BIGINT) AS n_contaminated
       |FROM t GROUP BY 1, 2""".stripMargin
  }

  /** qx31 twin: per-doc duplicate-bigram ratio from the same
    * (h1*1009 + h2) mod p bigram family, multiset-minus-set. */
  val qx31: String =
    s"""WITH $DOCS,
       |bg AS (SELECT doc_id,
       |         list_transform(range(1, len(h)), i -> (h[i]*1009 + h[i+1]) % $P) AS bgs
       |       FROM wh WHERE len(h) >= 2)
       |SELECT doc_id,
       |       CAST(len(bgs) AS BIGINT) AS n_bigrams,
       |       CAST(len(bgs) - len(list_distinct(bgs)) AS BIGINT) AS n_dup,
       |       CAST(len(bgs) - len(list_distinct(bgs)) AS DOUBLE) / CAST(len(bgs) AS DOUBLE) AS dup_ratio,
       |       CAST(len(bgs) - len(list_distinct(bgs)) AS DOUBLE) / CAST(len(bgs) AS DOUBLE) > 0.2 AS flagged
       |FROM bg""".stripMargin

  /** qx34 twin: √n_s temperature weights (floor of IEEE sqrt — exact in
    * both engines below 2⁵²), integer quota, same hash-rank pick. */
  val qx34: String =
    s"""WITH s AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_s FROM documents GROUP BY lang),
       |w AS (SELECT lang, CAST(floor(sqrt(CAST(n_s AS DOUBLE))) AS BIGINT) AS w_s FROM s),
       |t AS (SELECT CAST(sum(w_s) AS BIGINT) AS w_tot FROM w),
       |q AS (SELECT lang, greatest(1, (w_s * 48) // w_tot) AS quota FROM w, t),
       |r AS (SELECT lang, doc_id,
       |             CAST(row_number() OVER (PARTITION BY lang
       |               ORDER BY (doc_id * 1000003 + 12345) % $P ASC, doc_id ASC) AS INT) AS rk
       |      FROM documents)
       |SELECT r.lang, rk, doc_id
       |FROM r JOIN q ON r.lang = q.lang
       |WHERE rk <= quota""".stripMargin

  /** qx35 twin: floor(log₂ n_tokens) buckets via length(bin(x))−1,
    * nearest-rank crossing, bucket upper bound 2^(b+1)−1. */
  val qx35: String =
    s"""WITH $DOCS,
       |t AS (SELECT source, CAST(len(ws) AS BIGINT) AS n_tokens FROM docs WHERE len(ws) > 0),
       |cells AS (SELECT source, CAST(length(bin(n_tokens)) - 1 AS BIGINT) AS bucket,
       |                 CAST(count(*) AS BIGINT) AS cnt
       |          FROM t GROUP BY 1, 2),
       |r AS (SELECT source, bucket, cnt,
       |             CAST(sum(cnt) OVER (PARTITION BY source ORDER BY bucket
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
       |             CAST(sum(cnt) OVER (PARTITION BY source) AS BIGINT) AS n_docs
       |      FROM cells)
       |SELECT source, CAST(max(n_docs) AS BIGINT) AS n_docs,
       |       min(CASE WHEN cum >= (n_docs * 50 + 99) // 100 THEN (CAST(1 AS BIGINT) << (bucket + 1)) - 1 END) AS p50_est,
       |       min(CASE WHEN cum >= (n_docs * 90 + 99) // 100 THEN (CAST(1 AS BIGINT) << (bucket + 1)) - 1 END) AS p90_est,
       |       min(CASE WHEN cum >= (n_docs * 99 + 99) // 100 THEN (CAST(1 AS BIGINT) << (bucket + 1)) - 1 END) AS p99_est
       |FROM r GROUP BY source""".stripMargin

  /** qx36 twin: per-doc fraction of bigram instances with corpus
    * frequency ≥ 3 (multiset rows on both sides). */
  val qx36: String =
    s"""WITH $DOCS,
       |bg AS (SELECT doc_id,
       |         unnest(list_transform(range(1, len(h)), i -> (h[i]*1009 + h[i+1]) % $P)) AS bg
       |       FROM wh WHERE len(h) >= 2),
       |freq AS (SELECT bg, CAST(count(*) AS BIGINT) AS cnt FROM bg GROUP BY bg)
       |SELECT doc_id,
       |       CAST(count(*) AS BIGINT) AS n_bigrams,
       |       CAST(sum(CASE WHEN cnt >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_common,
       |       CAST(sum(CASE WHEN cnt >= 3 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS coverage
       |FROM bg JOIN freq USING (bg)
       |GROUP BY doc_id""".stripMargin

  val qx11: String =
    """WITH per AS (
      |  SELECT event_type,
      |         CAST(json_extract(props, '$.k') AS BIGINT) AS k,
      |         (strpos('0123456789abcdef', substr(md5(props), 1, 1)) - 1) * 16
      |           + strpos('0123456789abcdef', substr(md5(props), 2, 1)) - 1 AS first_byte,
      |         16 AS payload_len
      |  FROM events)
      |SELECT event_type, count(*) AS cnt,
      |       CAST(sum(k) AS BIGINT) AS sum_k,
      |       CAST(sum(first_byte) AS BIGINT) AS sum_first_byte,
      |       CAST(max(payload_len) AS BIGINT) AS max_len
      |FROM per GROUP BY event_type""".stripMargin

  /** qx46 twin — rotation invariance, NO eigendecomposition needed: the
    * full-rank projected squared norm must equal the centered squared
    * norm, which IS SQL-computable, exactly, on the shared micro-unit
    * integers: ‖x − μ‖² = Σ_d (n·x_d − S_d)² / n² (HUGEINT squares —
    * (n·x − S)² alone brushes int64 at sf0.1 and the 64-dim sum is well
    * past it). total_var is tr(cov) = Σ_d var_samp, the eigenvalue-sum
    * invariant, from the same exact numerators. */
  /** qx28 twin — the k=8 split invariant needs NO eigendecomposition:
    * ‖p₈‖² + ‖residual‖² collapses to ‖x − μ‖², exact in HUGEINT on
    * the micro-unit grid (the qx46 spelling); total_var = Σ var_samp
    * = trace pins the eigenvalue scale. */
  val qx28: String =
    """WITH iv AS (SELECT vec_id,
      |         list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS v
      |       FROM embeddings),
      |params AS (SELECT count(*) AS n FROM embeddings),
      |dims AS (SELECT vec_id, i AS d, v[i] AS x FROM iv, generate_series(1, 64) t(i)),
      |sums AS (SELECT d, sum(x) AS s FROM dims GROUP BY d),
      |cn AS (SELECT vec_id,
      |         sum(CAST(n * x - s AS HUGEINT) * CAST(n * x - s AS HUGEINT)) AS num
      |       FROM dims JOIN sums USING (d) CROSS JOIN params GROUP BY vec_id),
      |tot AS (SELECT sum(num) AS tnum FROM cn)
      |SELECT vec_id,
      |       round(CAST(num AS DOUBLE) / (CAST(n AS DOUBLE) * n * 1e12), 3) AS norm2_split8,
      |       round(CAST(tnum AS DOUBLE) / (CAST(n AS DOUBLE) * n * 1e12 * (n - 1)), 3) AS total_var
      |FROM cn CROSS JOIN params CROSS JOIN tot""".stripMargin

  val qx46: String =
    """WITH iv AS (SELECT vec_id,
      |         list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS v
      |       FROM embeddings),
      |params AS (SELECT count(*) AS n FROM embeddings),
      |dims AS (SELECT vec_id, i AS d, v[i] AS x FROM iv, generate_series(1, 64) t(i)),
      |sums AS (SELECT d, sum(x) AS s FROM dims GROUP BY d),
      |cn AS (SELECT vec_id,
      |         sum(CAST(n * x - s AS HUGEINT) * CAST(n * x - s AS HUGEINT)) AS num
      |       FROM dims JOIN sums USING (d) CROSS JOIN params GROUP BY vec_id),
      |tot AS (SELECT sum(num) AS tnum FROM cn)
      |SELECT vec_id,
      |       round(CAST(num AS DOUBLE) / (CAST(n AS DOUBLE) * n * 1e12), 3) AS pnorm2,
      |       round(CAST(tnum AS DOUBLE) / (CAST(n AS DOUBLE) * n * 1e12 * (n - 1)), 3) AS total_var
      |FROM cn CROSS JOIN params CROSS JOIN tot""".stripMargin

  /** qx47 twin — the decoder's pixel statistics re-derived CLOSED-FORM
    * from the synthetic generator (byte b of doc d is
    * (d·31 + b·7 + 11) mod 256; w = 4 + d%5, h = 3 + d%3): the oracle
    * never parses bytes, so only a correct Spark-side parse of the real
    * payload reproduces these integers. */
  val qx47: String =
    """WITH d AS (SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 3 AS h FROM documents),
      |px AS (SELECT doc_id, w, h, b, (doc_id * 31 + b * 7 + 11) % 256 AS v
      |       FROM d, unnest(range(0, 3 * w * h)) AS t(b))
      |SELECT doc_id,
      |       CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
      |       CAST(255 AS BIGINT) AS maxval, CAST(w * h AS BIGINT) AS n_pixels,
      |       CAST(sum(CASE WHEN b % 3 = 0 THEN v ELSE 0 END) AS BIGINT) AS sum_r,
      |       CAST(sum(CASE WHEN b % 3 = 1 THEN v ELSE 0 END) AS BIGINT) AS sum_g,
      |       CAST(sum(CASE WHEN b % 3 = 2 THEN v ELSE 0 END) AS BIGINT) AS sum_b,
      |       CAST(sum(v * (b + 1)) AS BIGINT) AS wsum
      |FROM px GROUP BY doc_id, w, h""".stripMargin

  /** qx64 twin — the domain-keyed split replayed: same planted domain,
    * Horner char fold, affine band and 80/10/10 thresholds; both `%`
    * spellings agree on the all-positive operands. */
  val qx64: String =
    s"""WITH $DOCS,
       |pl AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words,
       |         'site' || CAST(doc_id % 40 AS VARCHAR) ||
       |         '.' || (['com','org','net','io'])[CAST(doc_id % 4 AS INTEGER) + 1] AS domain
       |       FROM docs),
       |dh AS (SELECT *, list_reduce([CAST(0 AS BIGINT)] ||
       |           list_transform(string_split(domain, ''), c -> CAST(ascii(c) AS BIGINT)),
       |           (a, b) -> (a * 31 + b) % 1000003) AS dh
       |       FROM pl),
       |sp AS (SELECT *, CASE WHEN (dh * 2654435761 + 12345) % 100 < 80 THEN 'train'
       |                      WHEN (dh * 2654435761 + 12345) % 100 < 90 THEN 'val'
       |                      ELSE 'test' END AS split
       |       FROM dh)
       |SELECT split, CAST(count(DISTINCT domain) AS BIGINT) AS n_domains,
       |       CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(n_words) AS BIGINT) AS sum_words
       |FROM sp GROUP BY split""".stripMargin

  /** qx63 twin — the NB-style classifier replayed relationally: same
    * pseudo-labels, class-conditional counts, 10⁴-scaled integer
    * likelihood-ratio surrogate and cross-multiplied decision rule.
    * Both `div` spellings floor on positive operands identically. */
  val qx63: String =
    s"""WITH $DOCS,
       |w AS (SELECT doc_id, source,
       |        CAST(substring(source, 4) AS BIGINT) % 4 = 0 AS pos, word
       |      FROM docs, unnest(ws) t(word)),
       |cls AS (SELECT word,
       |          sum(CASE WHEN pos THEN 1 ELSE 0 END) AS c_pos,
       |          sum(CASE WHEN pos THEN 0 ELSE 1 END) AS c_neg
       |        FROM w GROUP BY word),
       |tot AS (SELECT sum(c_pos) AS t_pos, sum(c_neg) AS t_neg,
       |          count(*) AS vocab FROM cls),
       |s AS (SELECT doc_id, source,
       |        (10000 * (c_pos + 1)) // (c_neg + 1) AS s
       |      FROM w JOIN cls USING (word)),
       |pd AS (SELECT doc_id, source, count(*) AS n_words, sum(s) AS score
       |       FROM s GROUP BY doc_id, source),
       |fin AS (SELECT source, n_words, score,
       |          score > n_words * ((10000 * (t_pos + vocab)) // (t_neg + vocab)) AS pred_pos
       |        FROM pd CROSS JOIN tot)
       |SELECT source, CAST(count(*) AS BIGINT) AS docs,
       |       CAST(sum(CASE WHEN pred_pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pred_pos,
       |       CAST(sum(n_words) AS BIGINT) AS sum_words,
       |       CAST(sum(score) AS BIGINT) AS sum_score
       |FROM fin GROUP BY source""".stripMargin

  /** qx62 twin — planting replayed, DuckDB's RE2 runs the same
    * host/eTLD+1 regexes, and the cap is the row_number spelling of the
    * identical (hash, doc_id) order — the oracle checks WHICH docs
    * survive, not how the engine avoided the skew exchange. */
  val qx62: String =
    """WITH planted AS (SELECT doc_id,
      |        'http://' ||
      |        CASE WHEN doc_id % 3 = 0 THEN 'www' ELSE 's' || CAST(doc_id % 7 AS VARCHAR) END ||
      |        '.' || 'site' || CAST(doc_id % 40 AS VARCHAR) ||
      |        '.' || (['com','org','net','io'])[CAST(doc_id % 4 AS INTEGER) + 1] ||
      |        '/p/' || CAST(doc_id AS VARCHAR) AS url
      |      FROM documents),
      |ext AS (SELECT doc_id,
      |          regexp_extract(regexp_extract(url, 'http://([a-z0-9.]+)/', 1),
      |                         '([a-z0-9]+[.][a-z]+)$', 1) AS domain,
      |          (doc_id * 1000003 + 12345) % 2147483647 AS h
      |        FROM planted),
      |rk AS (SELECT domain, doc_id,
      |          row_number() OVER (PARTITION BY domain ORDER BY h ASC, doc_id ASC) AS rk,
      |          count(*) OVER (PARTITION BY domain) AS n_domain
      |       FROM ext)
      |SELECT domain, CAST(rk AS BIGINT) AS rk, doc_id, CAST(n_domain AS BIGINT) AS n_domain
      |FROM rk WHERE rk <= 5""".stripMargin

  /** Shared BPE training chain (qx60/qx61 twins): replays
    * [[graft.operators.BpeTrainer]] — word frequencies, then `steps`
    * iterations of (pair count → argmax with (pc DESC, l, r) tiebreak →
    * greedy left-to-right merge fold). The fold is the IDENTICAL
    * string-accumulator list_reduce as the Spark aggregate(): append
    * each symbol unless the accumulator ends with `|l` and the symbol
    * is `r`, in which case the tail rewrites to `|lr`. list_prepend('')
    * seeds the fold's empty accumulator (list_reduce inits from the
    * first element). */
  private def bpeChain(steps: Int): String = {
    val sb = new StringBuilder
    sb ++= s"$DOCS,\n"
    sb ++= "wf AS (SELECT w AS word, count(*) AS cnt FROM docs, unnest(ws) t(w) GROUP BY w),\n"
    sb ++= "v0 AS (SELECT word, cnt, '|' || array_to_string(string_split(word, ''), '|') || '|</w>' AS seq FROM wf)"
    for (i <- 1 to steps) {
      sb ++= s""",
        |p$i AS (SELECT s.l, s.r, sum(s.cnt) AS pc FROM (
        |  SELECT cnt, syms[j] AS l, syms[j+1] AS r
        |  FROM (SELECT cnt, list_filter(string_split(seq, '|'), x -> x <> '') AS syms FROM v${i - 1}),
        |       unnest(range(1, len(syms))) t(j)) s GROUP BY s.l, s.r),
        |b$i AS (SELECT l, r, pc FROM p$i ORDER BY pc DESC, l ASC, r ASC LIMIT 1),
        |v$i AS (SELECT word, cnt,
        |  list_reduce(list_prepend('', list_filter(string_split(seq, '|'), x -> x <> '')),
        |    (acc, x) -> CASE WHEN ends_with(acc, '|' || b.l) AND x = b.r
        |                     THEN substr(acc, 1, length(acc) - length(b.l) - 1) || '|' || b.l || b.r
        |                     ELSE acc || '|' || x END) AS seq
        |  FROM v${i - 1}, b$i b)""".stripMargin
    }
    sb.result()
  }

  /** qx60 twin — the learned merge table, steps stamped on. */
  val qx60: String = {
    val steps = 8
    val union = (1 to steps)
      .map(i => s"SELECT $i AS step, l, r, pc FROM b$i")
      .mkString(" UNION ALL ")
    s"""WITH ${bpeChain(steps)}
       |SELECT CAST(step AS BIGINT) AS step, l AS lhs, r AS rhs,
       |       CAST(pc AS BIGINT) AS pair_count
       |FROM ($union)""".stripMargin
  }

  /** qx61 twin — training replayed, then the apply join: per-word token
    * counts from the final state, summed per document. */
  val qx61: String = {
    val steps = 8
    s"""WITH ${bpeChain(steps)},
       |tok AS (SELECT word, len(list_filter(string_split(seq, '|'), x -> x <> '')) AS n_tok
       |        FROM v$steps)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |       CAST(sum(n_tok) AS BIGINT) AS n_bpe_tokens
       |FROM docs, unnest(ws) t(w) JOIN tok ON w = tok.word
       |GROUP BY doc_id""".stripMargin
  }

  /** qx92 twin — the same 8-step BPE replay as qx61, folded per
    * LANGUAGE with the byte/word/token fertility ratios in integer
    * micro-units. */
  val qx92: String = {
    val steps = 8
    s"""WITH ${bpeChain(steps)},
       |tok AS (SELECT word, len(list_filter(string_split(seq, '|'), x -> x <> '')) AS n_tok
       |        FROM v$steps),
       |pl AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       |              CAST(sum(n_chars) AS BIGINT) AS sum_bytes
       |       FROM docs GROUP BY lang),
       |tl AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_words,
       |              CAST(sum(n_tok) AS BIGINT) AS n_bpe
       |       FROM docs, unnest(ws) t(w) JOIN tok ON w = tok.word
       |       GROUP BY lang)
       |SELECT lang, n_docs, sum_bytes, n_words, n_bpe,
       |       CAST((1000000 * sum_bytes) // n_bpe AS BIGINT) AS bytes_per_tok_micro,
       |       CAST((1000000 * n_bpe) // n_words AS BIGINT) AS toks_per_word_micro
       |FROM pl JOIN tl USING (lang)""".stripMargin
  }

  /** qx59 twin — the corpus bigram LM replayed relationally: identical
    * integer smoothing and the same ⌊10⁶·(c₁+V)/(c₁₂+1)⌋ surrogate, so
    * both engines sum identical BIGINTs. */
  val qx59: String =
    s"""WITH $DOCS,
       |bg AS (SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2
       |       FROM docs, unnest(range(1, len(ws))) t(i)
       |       WHERE len(ws) >= 2),
       |c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
       |c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1),
       |v AS (SELECT count(DISTINCT w) AS vocab FROM docs, unnest(ws) t(w)),
       |s AS (SELECT doc_id, (1000000 * (c1 + vocab)) // (c12 + 1) AS s
       |      FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |       CAST(sum(s) AS BIGINT) AS surprisal_sum,
       |       CAST(sum(s) // count(*) AS BIGINT) AS mean_surprisal
       |FROM s GROUP BY doc_id""".stripMargin

  /** qx58 twin — the dHash re-derived CLOSED-FORM from the generator:
    * every sampled gray value is computed from the pixel formula (never
    * the bytes), bits packed into the same 56-bit BIGINT, then the
    * class-collapse + 4×14-bit band join + keep-lowest-id verdicts
    * replayed relationally. bit_count/xor pin the Hamming arithmetic
    * across engines. */
  val qx58: String =
    """WITH d AS (SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 3 AS h FROM documents),
      |pts AS (SELECT doc_id, w, gy, gx, (gx*w)//8 AS sx, (gy*h)//8 AS sy
      |        FROM d, unnest(range(0,8)) t1(gy), unnest(range(0,8)) t2(gx)),
      |g AS (SELECT doc_id, gy, gx,
      |        (  (doc_id*31 + (3*(sy*w+sx)+0)*7 + 11) % 256
      |         + (doc_id*31 + (3*(sy*w+sx)+1)*7 + 11) % 256
      |         + (doc_id*31 + (3*(sy*w+sx)+2)*7 + 11) % 256) // 3 AS gv
      |      FROM pts),
      |bits AS (SELECT a.doc_id, (a.gy*7 + a.gx) AS bit
      |         FROM g a JOIN g b ON a.doc_id = b.doc_id AND a.gy = b.gy AND b.gx = a.gx + 1
      |         WHERE a.gx < 7 AND b.gv > a.gv),
      |hs AS (SELECT d.doc_id, CAST(COALESCE(sum(CAST(1 AS BIGINT) << bit), 0) AS BIGINT) AS dhash
      |       FROM d LEFT JOIN bits USING (doc_id) GROUP BY d.doc_id),
      |cls AS (SELECT dhash, min(doc_id) AS cmin FROM hs GROUP BY dhash),
      |bands AS (SELECT dhash, cmin, b, (dhash >> (14*b)) & 16383 AS sig
      |          FROM cls, unnest(range(0,4)) t(b)),
      |adj AS (SELECT DISTINCT x.dhash, y.cmin AS nm
      |        FROM bands x JOIN bands y ON x.b = y.b AND x.sig = y.sig AND x.dhash <> y.dhash
      |        WHERE bit_count(xor(x.dhash, y.dhash)) <= 3),
      |nbr AS (SELECT dhash, min(nm) AS nmin FROM adj GROUP BY dhash),
      |eff AS (SELECT c.dhash, least(c.cmin, COALESCE(n.nmin, c.cmin)) AS keeper_id
      |        FROM cls c LEFT JOIN nbr n ON c.dhash = n.dhash)
      |SELECT h.doc_id, e.keeper_id
      |FROM hs h JOIN eff e ON h.dhash = e.dhash
      |WHERE h.doc_id > e.keeper_id""".stripMargin

  /** qx57 twin — the per-channel histogram re-derived closed-form from
    * the pixel generator: bin = v // 32 over channel b % 3. GROUP BY
    * yields exactly the non-empty bins the sparse decoder emits. */
  val qx57: String =
    """WITH d AS (SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 3 AS h FROM documents),
      |px AS (SELECT doc_id, b % 3 AS c,
      |              ((doc_id * 31 + b * 7 + 11) % 256) // 32 AS bin
      |       FROM d, unnest(range(0, 3 * w * h)) t(b))
      |SELECT doc_id, CAST(c AS BIGINT) AS channel, CAST(bin AS BIGINT) AS bin,
      |       CAST(count(*) AS BIGINT) AS cnt
      |FROM px GROUP BY doc_id, c, bin""".stripMargin

  /** qx56 twin — the PII planting replayed, then DuckDB's OWN regex
    * engine (RE2 family) detects and redacts over the same dirty text
    * the Spark side (java.util.regex) scrubbed: agreement on counts,
    * boundaries and replaced lengths is the cross-engine proof the
    * patterns behave identically. regexp_replace needs the explicit
    * 'g' flag — DuckDB replaces first-match-only by default, Spark
    * replaces all. */
  val qx56: String =
    """WITH dirty AS (SELECT source,
      |        text ||
      |        CASE WHEN doc_id % 3 = 0
      |             THEN ' user' || CAST(doc_id AS VARCHAR) || '@example.com'
      |             ELSE '' END ||
      |        CASE WHEN doc_id % 4 = 1
      |             THEN ' 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || '-1234'
      |             ELSE '' END AS d
      |      FROM documents),
      |s AS (SELECT source, d,
      |             CAST(len(regexp_extract_all(d, '[a-z0-9]+@[a-z]+\.[a-z]+')) AS BIGINT) AS n_email,
      |             CAST(len(regexp_extract_all(d, '[0-9]{3}-[0-9]{4}-[0-9]{4}')) AS BIGINT) AS n_phone,
      |             regexp_replace(regexp_replace(d, '[a-z0-9]+@[a-z]+\.[a-z]+', '<EMAIL>', 'g'),
      |                            '[0-9]{3}-[0-9]{4}-[0-9]{4}', '<PHONE>', 'g') AS clean
      |      FROM dirty)
      |SELECT source, CAST(count(*) AS BIGINT) AS docs,
      |       CAST(sum(n_email) AS BIGINT) AS emails_scrubbed,
      |       CAST(sum(n_phone) AS BIGINT) AS phones_scrubbed,
      |       CAST(sum(length(d)) AS BIGINT) AS sum_len_dirty,
      |       CAST(sum(length(clean)) AS BIGINT) AS sum_len_clean
      |FROM s GROUP BY source""".stripMargin

  /** qx55 twin — the MERGE replayed declaratively: the same derived
    * changeset (delete precedence over update via CASE order, inserts
    * keyed at doc_id + 10⁶ but token-scored from the ORIGINAL id), the
    * same full-outer join + carry-over semantics. */
  val qx55: String =
    """WITH base AS (SELECT doc_id, CAST(1 AS BIGINT) AS version,
      |        CAST(len(list_filter(string_split(text, ' '), w -> length(w) > 0)) AS BIGINT) AS n_tokens
      |      FROM documents),
      |ch AS (SELECT doc_id,
      |              CASE WHEN doc_id % 11 = 3 THEN 'D'
      |                   WHEN doc_id % 7 = 0 THEN 'U' END AS op,
      |              (doc_id * 13) % 1000 AS new_tokens
      |       FROM documents WHERE doc_id % 11 = 3 OR doc_id % 7 = 0
      |       UNION ALL
      |       SELECT doc_id + 1000000, 'I', (doc_id * 13) % 1000
      |       FROM documents WHERE doc_id % 5 = 0),
      |m AS (SELECT coalesce(base.doc_id, ch.doc_id) AS doc_id,
      |             version, n_tokens, op, new_tokens
      |      FROM base FULL OUTER JOIN ch ON base.doc_id = ch.doc_id)
      |SELECT doc_id,
      |       CAST(CASE WHEN op IS NOT NULL THEN 2 ELSE version END AS BIGINT) AS version,
      |       CAST(CASE WHEN op IS NOT NULL THEN new_tokens ELSE n_tokens END AS BIGINT) AS n_tokens
      |FROM m WHERE coalesce(op, '') <> 'D'""".stripMargin

  /** qx54 twin — the BM25-family ranking replayed with the IDENTICAL
    * micro-unit score expression (same e-notation literals, same CAST
    * points, same association — see ExtQueries.BM25_MICRO) and a
    * row_number window over (score DESC, doc_id ASC), the order
    * topk_by guarantees. Exact equality, not approximate: both engines
    * floor the same IEEE double. */
  val qx54: String =
    """WITH w AS (SELECT doc_id,
      |                  unnest(list_filter(string_split(text, ' '), x -> length(x) > 0)) AS word
      |           FROM documents),
      |dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM w GROUP BY doc_id),
      |st AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n,
      |              (SELECT CAST(count(*) AS BIGINT) FROM w) AS sumdl),
      |tf AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf FROM w
      |       WHERE word IN ('data', 'table', 'stream', 'query', 'spark')
      |       GROUP BY doc_id, word),
      |df AS (SELECT word, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY word),
      |sc AS (SELECT tf.word AS term, tf.doc_id,
      |              CAST(floor(((CAST(n - df AS DOUBLE) + 5e-1) / (CAST(df AS DOUBLE) + 5e-1)) *
      |                ((CAST(tf AS DOUBLE) * 22e-1) / (CAST(tf AS DOUBLE) + 12e-1 *
      |                (25e-2 + 75e-2 * (CAST(dl * n AS DOUBLE) / CAST(sumdl AS DOUBLE))))) * 1e6 + 5e-1) AS BIGINT) AS score_micro
      |       FROM tf JOIN dl USING (doc_id) JOIN df USING (word), st),
      |rk AS (SELECT term, doc_id, score_micro,
      |              CAST(row_number() OVER (PARTITION BY term
      |                ORDER BY score_micro DESC, doc_id ASC) AS BIGINT) AS rk
      |       FROM sc)
      |SELECT term, rk, doc_id, score_micro FROM rk WHERE rk <= 10""".stripMargin

  /** qx53 twin — the Morton interleave re-derived closed-form: bit i of
    * bin `a` contributes (aᵢ) · 2^(2i+1) and bit i of bin `b`
    * contributes (bᵢ) · 2^(2i), summed over i < 16 (computed once per
    * DISTINCT bin pair, joined back). The oracle never runs the
    * mask-shift spread — only a bit-exact Spark-side interleave (and
    * the same bucket boundary and operand order) reproduces the
    * per-bucket z-sums. */
  val qx53: String =
    """WITH t AS (SELECT CAST(floor(l_extendedprice) AS BIGINT) % 65536 AS a,
      |                  l_orderkey % 65536 AS b FROM lineitem),
      |ab AS (SELECT DISTINCT a, b FROM t),
      |zm AS (SELECT a, b,
      |              CAST(sum((((a >> i) & 1) << (2 * i + 1)) +
      |                       (((b >> i) & 1) << (2 * i))) AS BIGINT) AS zv
      |       FROM ab, unnest(range(0, 16)) ti(i) GROUP BY a, b),
      |j AS (SELECT t.a, t.b, zm.zv FROM t JOIN zm USING (a, b))
      |SELECT zv >> 22 AS bucket, CAST(count(*) AS BIGINT) AS cnt,
      |       CAST(sum(zv) AS BIGINT) AS sum_z,
      |       CAST(min(a) AS BIGINT) AS min_a, CAST(max(a) AS BIGINT) AS max_a,
      |       CAST(min(b) AS BIGINT) AS min_b, CAST(max(b) AS BIGINT) AS max_b
      |FROM j GROUP BY 1""".stripMargin

  /** qx78 twin — the 3-dim Morton weave replayed per-bit with shifts
    * (the qx53 oracle at stride 3: dim bit j of a/b/c lands at output
    * bit 3j+2 / 3j+1 / 3j). */
  val qx78: String =
    """WITH t AS (SELECT CAST(floor(l_extendedprice) AS BIGINT) % 65536 AS a,
      |                  l_orderkey % 65536 AS b,
      |                  l_partkey % 65536 AS c FROM lineitem),
      |abc AS (SELECT DISTINCT a, b, c FROM t),
      |zm AS (SELECT a, b, c,
      |              CAST(sum((((a >> i) & 1) << (3 * i + 2)) +
      |                       (((b >> i) & 1) << (3 * i + 1)) +
      |                       (((c >> i) & 1) << (3 * i))) AS BIGINT) AS zv
      |       FROM abc, unnest(range(0, 16)) ti(i) GROUP BY a, b, c),
      |j AS (SELECT t.a, t.b, t.c, zm.zv FROM t JOIN zm USING (a, b, c))
      |SELECT zv >> 36 AS bucket, CAST(count(*) AS BIGINT) AS cnt,
      |       CAST(sum(zv) AS BIGINT) AS sum_z,
      |       CAST(min(a) AS BIGINT) AS min_a, CAST(max(a) AS BIGINT) AS max_a,
      |       CAST(min(b) AS BIGINT) AS min_b, CAST(max(b) AS BIGINT) AS max_b,
      |       CAST(min(c) AS BIGINT) AS min_c, CAST(max(c) AS BIGINT) AS max_c
      |FROM j GROUP BY 1""".stripMargin

  /** qx52 twin — the windowed audio features re-derived CLOSED-FORM
    * from the qx48 sample generator: windows are i // 16, crossings
    * compare each sample against `lag` over the per-channel frame
    * order but only count when the predecessor sits in the SAME window
    * (i % 16 > 0), and energy/peak are exact integers. The oracle
    * never parses the RIFF container and never runs the feature
    * extractor — only a correct decode + windowing reproduces it. */
  val qx52: String =
    """WITH d AS (SELECT doc_id, 1 + doc_id % 2 AS channels,
      |                  40 + (doc_id % 9) * 5 AS frames FROM documents),
      |s AS (SELECT doc_id, c, i, i // 16 AS win,
      |             (doc_id * 37 + i * 13 + c * 101 + 7) % 4001 - 2000 AS sv
      |      FROM d, unnest(range(0, channels)) tc(c), unnest(range(0, frames)) ti(i)),
      |l AS (SELECT doc_id, c, i, win, sv,
      |             lag(sv) OVER (PARTITION BY doc_id, c ORDER BY i) AS pv
      |      FROM s)
      |SELECT doc_id, CAST(c AS BIGINT) AS channel, CAST(win AS BIGINT) AS win,
      |       CAST(count(*) AS BIGINT) AS n_w,
      |       CAST(sum(sv * sv) AS BIGINT) AS energy,
      |       CAST(sum(CASE WHEN i % 16 > 0 AND ((pv < 0) <> (sv < 0))
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS zc,
      |       CAST(max(abs(sv)) AS BIGINT) AS peak
      |FROM l GROUP BY doc_id, c, win""".stripMargin

  /** qx48 twin — the WAV decoder's per-channel sample statistics
    * re-derived CLOSED-FORM from the synthetic generator (sample for
    * frame i, channel c of doc d is ((d·37 + i·13 + c·101 + 7) mod
    * 4001) − 2000; channels = 1 + d%2, frames = 40 + (d%9)·5, rate =
    * 8000 + (d%3)·4000): the oracle never parses the RIFF container,
    * so only a correct Spark-side chunk walk (JUNK skip, odd-size pad,
    * 16-bit LE sign extension, channel interleave) reproduces these
    * integers. */
  val qx48: String =
    """WITH d AS (SELECT doc_id, 1 + doc_id % 2 AS channels,
      |                  40 + (doc_id % 9) * 5 AS frames,
      |                  8000 + (doc_id % 3) * 4000 AS rate FROM documents),
      |s AS (SELECT doc_id, channels, frames, rate, c, i,
      |             (doc_id * 37 + i * 13 + c * 101 + 7) % 4001 - 2000 AS sv
      |      FROM d, unnest(range(0, channels)) tc(c), unnest(range(0, frames)) ti(i))
      |SELECT doc_id, CAST(c AS BIGINT) AS channel,
      |       CAST(rate AS BIGINT) AS sample_rate, CAST(frames AS BIGINT) AS n_frames,
      |       CAST(sum(sv) AS BIGINT) AS sum_s,
      |       CAST(min(sv) AS BIGINT) AS min_s,
      |       CAST(max(sv) AS BIGINT) AS max_s,
      |       CAST(sum(sv * (i + 1)) AS BIGINT) AS wsum
      |FROM s GROUP BY doc_id, c, rate, frames""".stripMargin

  /** qx49 twin — the sampled frames' pixel statistics re-derived
    * CLOSED-FORM from the frame-stream generator (frame f's pixel byte
    * b of doc d is (d·31 + f·17 + b·7 + 11) mod 256; geometry w = 4 +
    * d%5, h = 3 + d%3, frames = 4 + d%4, stride 2): the oracle never
    * walks the byte stream, so a Spark-side frame-boundary misparse —
    * which desynchronizes every later frame — breaks the hash. */
  val qx49: String =
    """WITH d AS (SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 3 AS h,
      |                  4 + doc_id % 4 AS frames FROM documents),
      |fr AS (SELECT doc_id, w, h, f
      |       FROM d, unnest(range(0, frames)) t(f) WHERE f % 2 = 0),
      |px AS (SELECT doc_id, w, h, f, b, (doc_id * 31 + f * 17 + b * 7 + 11) % 256 AS v
      |       FROM fr, unnest(range(0, 3 * w * h)) t(b))
      |SELECT doc_id, CAST(f AS BIGINT) AS frame_idx,
      |       CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
      |       CAST(sum(CASE WHEN b % 3 = 0 THEN v ELSE 0 END) AS BIGINT) AS sum_r,
      |       CAST(sum(CASE WHEN b % 3 = 1 THEN v ELSE 0 END) AS BIGINT) AS sum_g,
      |       CAST(sum(CASE WHEN b % 3 = 2 THEN v ELSE 0 END) AS BIGINT) AS sum_b,
      |       CAST(sum(v * (b + 1)) AS BIGINT) AS wsum
      |FROM px GROUP BY doc_id, f, w, h""".stripMargin

  /** qx51 twin — the box-filter downsample re-derived CLOSED-FORM: every
    * input pixel maps to block (x//2, y//2), each block's resized value
    * is the integer-floor mean over its TRUE pixel count (edge blocks are
    * smaller), and the checksum runs over resized raster order. The
    * oracle never parses bytes and never calls the resizer — only a
    * correct Spark-side decode + block accounting reproduces it. */
  val qx51: String =
    """WITH d AS (SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 3 AS h FROM documents),
      |px AS (SELECT doc_id, w, h, b % 3 AS c,
      |              ((b // 3) % w) // 2 AS ox, ((b // 3) // w) // 2 AS oy,
      |              (doc_id * 31 + b * 7 + 11) % 256 AS v
      |       FROM d, unnest(range(0, 3 * w * h)) t(b)),
      |blk AS (SELECT doc_id, (w + 1) // 2 AS ow, (h + 1) // 2 AS oh, c, ox, oy,
      |               CAST(sum(v) // count(*) AS BIGINT) AS rv
      |        FROM px GROUP BY doc_id, w, h, c, ox, oy)
      |SELECT doc_id, CAST(ow AS BIGINT) AS out_w, CAST(oh AS BIGINT) AS out_h,
      |       CAST(sum(CASE WHEN c = 0 THEN rv ELSE 0 END) AS BIGINT) AS sum_r,
      |       CAST(sum(CASE WHEN c = 1 THEN rv ELSE 0 END) AS BIGINT) AS sum_g,
      |       CAST(sum(CASE WHEN c = 2 THEN rv ELSE 0 END) AS BIGINT) AS sum_b,
      |       CAST(sum(rv * (3 * (oy * ow + ox) + c + 1)) AS BIGINT) AS wsum
      |FROM blk GROUP BY doc_id, ow, oh""".stripMargin

  /** qx50 twin — SemDeDup: the qx16 trained codebook (KMEANS_ASSIGN,
    * integer-exact Lloyd replay) indexes every vector under its 2
    * nearest cells (the qx16 qprobe derivation over ALL vectors);
    * cell-mate pairs are deduplicated as id pairs, then exact-integer
    * cosines, threshold 0.35, keep-lowest-id drop policy. */
  val qx50: String =
    s"""WITH $KMEANS_ASSIGN,
       |cells AS (SELECT vec_id, cid FROM (
       |            SELECT a.vec_id, a.cid,
       |                   row_number() OVER (PARTITION BY a.vec_id
       |                     ORDER BY (2*dot - cn2) DESC, a.cid ASC) AS rn
       |            FROM adf a JOIN cnf USING (cid)) WHERE rn <= 2),
       |cand AS (SELECT DISTINCT y.vec_id, x.vec_id AS pid
       |         FROM cells y JOIN cells x ON y.cid = x.cid AND x.vec_id < y.vec_id),
       |p AS (SELECT cand.vec_id,
       |             CAST(CAST(list_sum(list_transform(range(1, len(y.v) + 1), i -> y.v[i] * x.v[i])) AS BIGINT) AS DOUBLE)
       |               / (sqrt(CAST(y.n2 AS DOUBLE)) * sqrt(CAST(x.n2 AS DOUBLE))) AS cosine
       |      FROM cand JOIN n y ON cand.vec_id = y.vec_id JOIN n x ON cand.pid = x.vec_id)
       |SELECT vec_id, CAST(count(*) AS BIGINT) AS n_better, max(cosine) AS max_cos
       |FROM p WHERE cosine >= 0.35 GROUP BY vec_id""".stripMargin

  /** qx65 twin — the URL planting replayed, then DuckDB's RE2 engine
    * runs the SAME five-step canonicalization chain the Spark side
    * codegen'd (java.util.regex): agreement on every canonical string
    * is the cross-engine proof the chain is in the shared regex
    * subset. DuckDB regexp_replace is first-match-only by default —
    * 'g' everywhere for Spark's replace-all semantics (qx56's flag
    * lesson). */
  val qx65: String =
    """WITH planted AS (SELECT doc_id, doc_id // 3 AS base, doc_id % 3 AS v
      |                 FROM documents),
      |u AS (SELECT doc_id,
      |        CASE WHEN v = 0 THEN
      |               'http://www.site' || CAST(base % 40 AS VARCHAR) ||
      |               '.com/page/' || CAST(base AS VARCHAR)
      |             WHEN v = 1 THEN
      |               'HTTP://WWW.SITE' || CAST(base % 40 AS VARCHAR) ||
      |               '.COM:80/page/' || CAST(base AS VARCHAR) || '/'
      |             WHEN doc_id % 9 = 2 THEN
      |               'http://www.site' || CAST(base % 40 AS VARCHAR) ||
      |               '.com/page/' || CAST(base AS VARCHAR) || '?page=2'
      |             ELSE
      |               'http://www.site' || CAST(base % 40 AS VARCHAR) ||
      |               '.com/page/' || CAST(base AS VARCHAR) ||
      |               '?utm_source=feed&utm_campaign=c' || CAST(base % 5 AS VARCHAR) ||
      |               '#sec' || CAST(base % 3 AS VARCHAR)
      |        END AS url
      |      FROM planted),
      |c AS (SELECT doc_id, url,
      |        regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      |          lower(url),
      |          '#[a-z0-9]*$', '', 'g'),
      |          'utm_[a-z]+=[a-z0-9]*&?', '', 'g'),
      |          '[?&]$', '', 'g'),
      |          ':80/', '/', 'g'),
      |          '/$', '', 'g') AS canon
      |      FROM u)
      |SELECT canon AS canon_url, CAST(count(*) AS BIGINT) AS n_docs,
      |       min(doc_id) AS keeper_id,
      |       CAST(count(DISTINCT url) AS BIGINT) AS n_raw_forms
      |FROM c GROUP BY canon""".stripMargin

  /** qx66 twin — the reformatted-twin planting replayed (SHOUT +
    * whitespace padding on every 10th doc), then the same three-step
    * normalization (lower, collapse space runs, trim) in DuckDB; the
    * corpus is all-ASCII so upper/lower agree across engines by
    * construction. */
  val qx66: String =
    """WITH all_docs AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS doc_id, '  ' || upper(text) || ' ' AS text
      |  FROM documents WHERE doc_id % 10 = 0),
      |nrm AS (SELECT doc_id, text,
      |          trim(regexp_replace(lower(text), ' +', ' ', 'g')) AS norm
      |        FROM all_docs)
      |SELECT min(doc_id) AS keeper_id, CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(count(DISTINCT text) AS BIGINT) AS n_exact_variants,
      |       CAST(length(norm) AS BIGINT) AS n_norm_chars
      |FROM nrm GROUP BY norm HAVING count(*) > 1""".stripMargin

  /** qx67 twin — the line planting replayed, then first-occurrence
    * election per line via a window (the oracle need not be
    * skew-shaped; the Spark side elects the same keeper with a
    * map-side-combinable min-struct aggregate). */
  val qx67: String =
    """WITH lines AS (
      |  SELECT doc_id, 0 AS line_no, text AS line FROM documents
      |  UNION ALL
      |  SELECT doc_id, 1 AS line_no,
      |         'subscribe to site ' || CAST(doc_id % 5 AS VARCHAR) ||
      |         ' newsletter for daily updates' AS line
      |  FROM documents WHERE doc_id % 7 = 0),
      |r AS (SELECT doc_id, line,
      |        row_number() OVER (PARTITION BY line
      |                           ORDER BY doc_id, line_no) AS rk
      |      FROM lines)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines,
      |       CAST(sum(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |       CAST(sum(CASE WHEN rk > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
      |       CAST(sum(CASE WHEN rk = 1 THEN length(line) ELSE 0 END) AS BIGINT)
      |         AS n_chars_kept
      |FROM r GROUP BY doc_id""".stripMargin

  /** qx68 twin — the extractor's output re-derived CLOSED-FORM from the
    * HTML generator formula: visible body text is the h1 heading, the
    * doc text, the anchor texts in document order and the entity-laden
    * tail, whitespace-collapsed; the comment, style, script, attribute
    * values and the href's &amp; never reach it. The oracle never
    * parses HTML — only a correct Spark-side parse of the real markup
    * reproduces these strings. The concatenation is run through the
    * SAME whitespace-collapse the parser applies (runs of space/tab/
    * CR/LF → one space, trimmed), so the twin holds for ANY `text`
    * shape — empty, leading/trailing or multi-space. The one remaining
    * contract is that `text` contains no '<' or '&' (it would be parsed
    * as markup on the Spark side but stay literal here); TESTDATA's
    * generator satisfies it. */
  val qx68: String =
    """WITH e AS (
      |  SELECT doc_id,
      |    'Doc ' || CAST(doc_id AS VARCHAR) || ' & friends' AS title,
      |    trim(regexp_replace(
      |      'Doc ' || CAST(doc_id AS VARCHAR) || ' ' || text || ' more > info' ||
      |      CASE CAST(doc_id % 3 AS INTEGER)
      |        WHEN 1 THEN ' r0' WHEN 2 THEN ' r0 r1' ELSE '' END ||
      |      ' tail AB' || repeat('.', CAST(doc_id % 4 AS INTEGER)) || ' end',
      |      '[ \t\n\r]+', ' ', 'g')) AS extracted,
      |    CAST(1 + doc_id % 3 AS BIGINT) AS n_links,
      |    CAST(3 + doc_id % 4 AS BIGINT) AS n_entities
      |  FROM documents)
      |SELECT doc_id, title, extracted, n_links, n_entities,
      |       CAST(length(extracted) AS BIGINT) AS n_chars
      |FROM e""".stripMargin

  /** qx69 twin — the WARC→HTTP→HTML chain re-derived CLOSED-FORM from
    * the generator formula: record census (warcinfo + optional metadata
    * + response), the planted 404s, the HTML body length (recomputed by
    * replaying the page concat, including the comment decoy bytes the
    * extractor must skip), and the visible prose through the same
    * whitespace-collapse contract as qx68. The oracle never parses WARC,
    * HTTP or HTML — only a correct Content-Length-framed record walk, a
    * consistent HTTP unwrap and a trap-proof HTML pass reproduce these
    * values. Assumes `text` has no '<'/'&' (documented at qx68). */
  val qx69: String =
    """WITH e AS (
      |  SELECT doc_id, text, doc_id % 13 = 0 AS is404,
      |    CASE WHEN doc_id % 13 = 0
      |      THEN '<html><head><title>Not Found</title></head><body><p>missing '
      |           || CAST(doc_id AS VARCHAR) || '</p></body></html>'
      |      ELSE '<html><head><title>Page ' || CAST(doc_id AS VARCHAR)
      |           || '</title></head>' || chr(10)
      |           || '<body><!-- ' || chr(13) || chr(10) || chr(13) || chr(10)
      |           || 'WARC/1.0' || chr(13) || chr(10)
      |           || 'content-length: 0 decoy -->' || chr(10)
      |           || '<h1>Page ' || CAST(doc_id AS VARCHAR) || '</h1>' || chr(10)
      |           || '<p>' || text || '</p>' || chr(10)
      |           || '<a href="/n?d=' || CAST(doc_id AS VARCHAR)
      |           || '&amp;x=1">next &gt; page</a>' || chr(10) || '</body></html>'
      |    END AS html
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(2 + CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END AS BIGINT) AS n_records,
      |  'https://site' || CAST(doc_id % 7 AS VARCHAR) || '.example/page/'
      |    || CAST(doc_id AS VARCHAR) AS uri,
      |  CAST(CASE WHEN is404 THEN 404 ELSE 200 END AS BIGINT) AS http_status,
      |  'text/html; charset=utf-8' AS mime,
      |  CAST(length(html) AS BIGINT) AS body_len,
      |  CASE WHEN is404 THEN 'Not Found'
      |       ELSE 'Page ' || CAST(doc_id AS VARCHAR) END AS title,
      |  trim(regexp_replace(
      |    CASE WHEN is404 THEN 'missing ' || CAST(doc_id AS VARCHAR)
      |         ELSE 'Page ' || CAST(doc_id AS VARCHAR) || ' ' || text
      |              || ' next > page' END,
      |    '[ \t\n\r]+', ' ', 'g')) AS extracted,
      |  CAST(length(trim(regexp_replace(
      |    CASE WHEN is404 THEN 'missing ' || CAST(doc_id AS VARCHAR)
      |         ELSE 'Page ' || CAST(doc_id AS VARCHAR) || ' ' || text
      |              || ' next > page' END,
      |    '[ \t\n\r]+', ' ', 'g'))) AS BIGINT) AS n_chars
      |FROM e""".stripMargin

  /** qx70 twin — ExactSubstr replayed relationally: the same K=8 grams
    * via 1-based list slicing, first occurrence by (doc_id, start)
    * (row_number — the oracle may use the skew-trap spelling, it only
    * runs at gate scale), the same gaps-and-islands merge (equal-length
    * spans ⇒ a region breaks iff the start-gap ≥ K). */
  val qx70: String =
    """WITH d AS (
      |  SELECT doc_id, CASE WHEN doc_id % 3 = 0
      |    THEN text || ' all rights reserved see license terms at mirror '
      |         || CAST(doc_id % 5 AS VARCHAR)
      |    ELSE text END AS text
      |  FROM documents),
      |w AS (SELECT doc_id,
      |        list_filter(string_split(text, ' '), x -> length(x) > 0) AS ws
      |      FROM d),
      |g AS (SELECT doc_id, i - 1 AS i, array_to_string(ws[i:i+7], ' ') AS gram
      |      FROM w, unnest(range(1, len(ws) - 6)) AS t(i)
      |      WHERE len(ws) >= 8),
      |r AS (SELECT doc_id, i,
      |        row_number() OVER (PARTITION BY gram ORDER BY doc_id, i) AS rk
      |      FROM g),
      |f AS (SELECT doc_id, i FROM r WHERE rk > 1),
      |s AS (SELECT doc_id, i,
      |        CASE WHEN lag(i) OVER w2 IS NULL OR i - lag(i) OVER w2 >= 8
      |             THEN 1 ELSE 0 END AS brk
      |      FROM f WINDOW w2 AS (PARTITION BY doc_id ORDER BY i)),
      |isl AS (SELECT doc_id, i,
      |          sum(brk) OVER (PARTITION BY doc_id ORDER BY i
      |                         ROWS UNBOUNDED PRECEDING) AS region
      |        FROM s),
      |sp AS (SELECT doc_id, region, min(i) AS a, max(i) + 8 AS b
      |       FROM isl GROUP BY doc_id, region),
      |per AS (SELECT doc_id, count(*) AS n_spans, sum(b - a) AS n_removed
      |        FROM sp GROUP BY doc_id),
      |pos AS (SELECT doc_id, i - 1 AS j, ws[i] AS wd
      |        FROM w, unnest(range(1, len(ws) + 1)) AS t(i)),
      |cov AS (SELECT DISTINCT sp.doc_id, c.j
      |        FROM sp, unnest(range(sp.a, sp.b)) AS c(j)),
      |keptx AS (SELECT p.doc_id, string_agg(p.wd, ' ' ORDER BY p.j) AS text_kept
      |          FROM pos p LEFT JOIN cov c ON p.doc_id = c.doc_id AND p.j = c.j
      |          WHERE c.j IS NULL GROUP BY p.doc_id)
      |SELECT w.doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
      |       CAST(coalesce(n_spans, 0) AS BIGINT) AS n_spans,
      |       CAST(coalesce(n_removed, 0) AS BIGINT) AS n_removed,
      |       CAST(len(ws) - coalesce(n_removed, 0) AS BIGINT) AS n_kept,
      |       coalesce(k.text_kept, '') AS text_kept
      |FROM w LEFT JOIN per ON w.doc_id = per.doc_id
      |       LEFT JOIN keptx k ON w.doc_id = k.doc_id""".stripMargin

  /** qx71 twin — the full 8-round integer PageRank replayed as a
    * GENERATED CTE chain (the qx60 discipline): same graph derivation,
    * same floor-division update, same dangling-mass redistribution, so
    * the hash pins every rank bit of every iteration's fixpoint. */
  /** The full qx71 iteration chain as a reusable WITH body (nodes, e,
    * deg, nn, r0..r8) — shared by the qx71 and qx75 twins. */
  private val pagerankChain: String = {
    val iters = 8
    val base =
      """WITH nodes AS (SELECT DISTINCT doc_id % 40 AS u FROM documents),
        |e AS MATERIALIZED (SELECT DISTINCT u, v FROM (
        |    SELECT doc_id % 40 AS u, (doc_id * 7 + 3) % 40 AS v FROM documents
        |    UNION ALL
        |    SELECT doc_id % 40 AS u, (doc_id * 13 + 11) % 40 AS v FROM documents) t
        |  WHERE u % 10 <> 7),
        |deg AS MATERIALIZED (SELECT u, count(*) AS od FROM e GROUP BY u),
        |nn AS MATERIALIZED (SELECT count(*) AS n FROM nodes),
        |r0 AS MATERIALIZED (SELECT u, CAST(1000000 AS BIGINT) AS r FROM nodes)""".stripMargin
    // every round but the last is read twice by its successor (the
    // inflow and the dangling mass), so DuckDB would inline the chain
    // exponentially unless each round is MATERIALIZED
    val its = (1 to iters).map { k =>
      s"""r$k AS${if (k < iters) " MATERIALIZED" else ""} (
         |  SELECT nd.u,
         |    CAST(150000 + (85 * (coalesce(i.inc, 0) + dang.dg // (SELECT n FROM nn))) // 100
         |         AS BIGINT) AS r
         |  FROM nodes nd
         |  LEFT JOIN (SELECT e.v AS u, CAST(sum(p.r // dg2.od) AS BIGINT) AS inc
         |             FROM r${k - 1} p JOIN deg dg2 ON p.u = dg2.u JOIN e ON e.u = p.u
         |             GROUP BY e.v) i ON nd.u = i.u
         |  CROSS JOIN (SELECT CAST(coalesce(sum(p.r), 0) AS BIGINT) AS dg
         |              FROM r${k - 1} p LEFT JOIN deg dg3 ON p.u = dg3.u
         |              WHERE dg3.u IS NULL) dang)""".stripMargin
    }.mkString(",\n")
    s"$base,\n$its"
  }

  val qx71: String =
    s"""$pagerankChain
       |SELECT 'site' || CAST(nd.u AS VARCHAR) || '.' ||
       |       (['com','org','net','io'])[CAST(nd.u % 4 AS INTEGER) + 1] AS domain,
       |       fin.r AS rank_micro, c.n_docs,
       |       CAST(coalesce(dg.od, 0) AS BIGINT) AS out_deg
       |FROM nodes nd
       |JOIN r8 fin ON nd.u = fin.u
       |JOIN (SELECT doc_id % 40 AS u, count(*) AS n_docs
       |      FROM documents GROUP BY 1) c ON nd.u = c.u
       |LEFT JOIN deg dg ON nd.u = dg.u""".stripMargin

  /** qx75 twin — authority-weighted caps: the qx71 chain feeds an
    * integer share formula (no order statistics, no global window),
    * then the qx62 hash-rank selection under the per-domain cap. */
  val qx75: String =
    s"""$pagerankChain,
       |auth AS (SELECT 'site' || CAST(nd.u AS VARCHAR) || '.' ||
       |           (['com','org','net','io'])[CAST(nd.u % 4 AS INTEGER) + 1] AS domain,
       |           fin.r AS rank_micro
       |         FROM nodes nd JOIN r8 fin ON nd.u = fin.u),
       |tot AS (SELECT CAST(sum(rank_micro) AS BIGINT) AS t, count(*) AS nn FROM auth),
       |caps AS (SELECT domain, CAST(rank_micro AS BIGINT) AS rank_micro,
       |           CAST(2 + least(6, (rank_micro * 4 * tot.nn) // tot.t) AS BIGINT) AS cap
       |         FROM auth, tot),
       |docs2 AS (SELECT doc_id,
       |            'site' || CAST(doc_id % 40 AS VARCHAR) || '.' ||
       |            (['com','org','net','io'])[CAST(doc_id % 4 AS INTEGER) + 1] AS domain,
       |            (doc_id * 1000003 + 12345) % 2147483647 AS h
       |          FROM documents),
       |rk2 AS (SELECT domain, doc_id,
       |          row_number() OVER (PARTITION BY domain ORDER BY h ASC, doc_id ASC) AS rk
       |        FROM docs2)
       |SELECT c.domain, c.rank_micro, c.cap, CAST(r2.rk AS BIGINT) AS rk, r2.doc_id
       |FROM rk2 r2 JOIN caps c ON r2.domain = c.domain
       |WHERE r2.rk <= c.cap""".stripMargin

  /** qx72 twin — the RFC 9309 decision table closed-form: per path
    * class (deep-private / private-pub / tmp / plain) and domain rule
    * set, the verdict, the winning rule's length and the group's crawl
    * delay. The oracle never parses robots.txt — only correct group
    * selection, longest-match precedence, glob/anchor matching and
    * case-insensitive field handling reproduce the table. */
  val qx72: String =
    """WITH urls AS (
      |  SELECT doc_id, doc_id % 40 AS u,
      |    CASE CAST(doc_id % 7 AS INTEGER)
      |      WHEN 0 THEN '/private/x/' || CAST(doc_id AS VARCHAR)
      |      WHEN 1 THEN '/private/pub/' || CAST(doc_id AS VARCHAR)
      |      WHEN 2 THEN '/tmp/' || CAST(doc_id AS VARCHAR) || '.tmp'
      |      ELSE '/p/' || CAST(doc_id AS VARCHAR) END AS path
      |  FROM documents)
      |SELECT doc_id,
      |  'site' || CAST(u AS VARCHAR) || '.' ||
      |    (['com','org','net','io'])[CAST(u % 4 AS INTEGER) + 1] AS domain,
      |  path,
      |  CASE WHEN doc_id % 7 = 0 THEN false
      |       WHEN doc_id % 7 = 2 AND u % 4 = 0 THEN false
      |       ELSE true END AS fetchable,
      |  CAST(CASE WHEN doc_id % 7 = 0 THEN 9
      |            WHEN doc_id % 7 = 1 THEN 13
      |            WHEN doc_id % 7 = 2 AND u % 4 = 0 THEN 7
      |            ELSE 0 END AS BIGINT) AS rule_len,
      |  CAST(u % 7 + 1 AS BIGINT) AS crawl_delay
      |FROM urls""".stripMargin

  /** qx73 twin — the HLL register grid replayed with the same
    * overflow-free 55-bit key and the shared bin()-length rho. */
  val qx73: String =
    s"""WITH $DOCS,
       |toks AS (SELECT DISTINCT lang, wh
       |         FROM (SELECT lang, unnest(h) AS wh FROM wh)),
       |rr AS (SELECT lang, k % 256 AS idx,
       |         CASE WHEN k // 256 = 0 THEN 48
       |              ELSE 48 - length(bin(k // 256)) END AS rho
       |       FROM (SELECT lang,
       |               ((wh * 1000003 + 12345) % 2147483647) * 16777216
       |                 + ((wh * 69069 + 54321) % 2147483647) % 16777216 AS k
       |             FROM toks)),
       |regs AS (SELECT lang, idx, max(rho) AS r FROM rr GROUP BY lang, idx),
       |hist AS (SELECT lang, r, count(*) AS n_regs FROM regs GROUP BY lang, r),
       |exact AS (SELECT lang, count(*) AS n_exact FROM toks GROUP BY lang)
       |SELECT hist.lang, CAST(r AS BIGINT) AS register_value,
       |       CAST(n_regs AS BIGINT) AS n_regs,
       |       CAST(n_exact AS BIGINT) AS n_exact
       |FROM hist JOIN exact ON hist.lang = exact.lang""".stripMargin

  /** qx74 twin — the eval-overlap audit replayed relationally: same
    * planted passages, same qx30 split bands, same 8-gram slicing, a
    * distinct train-gram set and a per-eval-doc position join. */
  val qx74: String =
    """WITH d2 AS (
      |  SELECT doc_id, CASE WHEN doc_id % 9 = 0
      |    THEN text || ' shared passage ' || CAST(doc_id % 3 AS VARCHAR)
      |         || ' about spark window agg join scan filter hash sort'
      |    ELSE text END AS text
      |  FROM documents),
      |w AS (SELECT doc_id,
      |        list_filter(string_split(text, ' '), x -> length(x) > 0) AS ws,
      |        CASE WHEN (doc_id * 1000003 + 12345) % 2147483647 % 100 < 80 THEN 'train'
      |             WHEN (doc_id * 1000003 + 12345) % 2147483647 % 100 < 90 THEN 'val'
      |             ELSE 'test' END AS split
      |      FROM d2),
      |g AS (SELECT doc_id, split, array_to_string(ws[i:i+7], ' ') AS gram
      |      FROM w, unnest(range(1, len(ws) - 6)) AS t(i)
      |      WHERE len(ws) >= 8),
      |t AS (SELECT DISTINCT gram FROM g WHERE split = 'train'),
      |agg AS (SELECT e.doc_id,
      |          count(*) AS n_grams,
      |          sum(CASE WHEN t.gram IS NOT NULL THEN 1 ELSE 0 END) AS n_overlap
      |        FROM g e LEFT JOIN t ON e.gram = t.gram
      |        WHERE e.split <> 'train'
      |        GROUP BY e.doc_id)
      |SELECT w.doc_id, w.split,
      |       CAST(coalesce(n_grams, 0) AS BIGINT) AS n_grams,
      |       CAST(coalesce(n_overlap, 0) AS BIGINT) AS n_overlap,
      |       coalesce(n_overlap, 0) > 0 AS dirty
      |FROM w LEFT JOIN agg ON w.doc_id = agg.doc_id
      |WHERE w.split <> 'train'""".stripMargin

  /** qx76 twin — the audio fingerprint replayed closed-form from the
    * WAV generator's sample formula (never parsing the container):
    * mono mixdown by channel sum, complete 8-frame window energies,
    * gain-invariant quantized energy ratios (7-bit codes) packed by
    * window index, then the exact-class collapse. */
  val qx76: String =
    """WITH f AS (SELECT doc_id,
      |             CASE WHEN doc_id % 4 = 1 THEN doc_id - 1 ELSE doc_id END AS s0,
      |             CASE WHEN doc_id % 4 = 1 THEN 2 ELSE 1 END AS g
      |           FROM documents),
      |p AS (SELECT doc_id, s0, g, 1 + s0 % 2 AS ch,
      |             40 + (s0 % 9) * 5 AS fr FROM f),
      |m AS (SELECT doc_id, t.i // 8 AS w,
      |        g * (((s0 * 37 + t.i * 13 + 7) % 4001 - 2000)
      |             + CASE WHEN ch = 2
      |                    THEN ((s0 * 37 + t.i * 13 + 108) % 4001 - 2000)
      |                    ELSE 0 END) AS mono
      |      FROM p, unnest(range(0, (fr // 8) * 8)) AS t(i)),
      |e AS (SELECT doc_id, w, CAST(sum(mono * mono) AS BIGINT) AS en
      |      FROM m GROUP BY doc_id, w),
      |st AS (SELECT doc_id, w, en,
      |         lead(en) OVER (PARTITION BY doc_id ORDER BY w) AS en2
      |       FROM e),
      |codes AS (SELECT doc_id, w,
      |            CAST(least(127, (64 * en2) // greatest(en, 1)) AS BIGINT) AS code
      |          FROM st WHERE en2 IS NOT NULL),
      |fps AS (SELECT doc_id, CAST(sum(code << (7 * w)) AS BIGINT) AS fp
      |        FROM codes GROUP BY doc_id),
      |q AS (SELECT p.doc_id, CAST(fr // 8 AS BIGINT) AS n_windows,
      |             coalesce(fps.fp, 0) AS fp
      |      FROM p LEFT JOIN fps ON p.doc_id = fps.doc_id),
      |cls AS (SELECT n_windows, fp, min(doc_id) AS keeper,
      |               CAST(count(*) AS BIGINT) AS n_group
      |        FROM q GROUP BY n_windows, fp)
      |SELECT q.doc_id, q.n_windows, q.fp, cls.keeper, cls.n_group
      |FROM q JOIN cls ON q.n_windows = cls.n_windows AND q.fp = cls.fp""".stripMargin

  /** qx77 twin — the WET funnel replayed closed-form: mirror seeds,
    * 404 screen, extracted prose via the shared whitespace-collapse,
    * integer cross-multiplied language gate, length screen, Horner
    * fingerprint dedup among screened survivors, funnel rollup. */
  val qx77: String =
    """WITH base AS (SELECT doc_id,
      |    CASE WHEN doc_id % 11 = 10 THEN doc_id - 1 ELSE doc_id END AS seed
      |  FROM documents),
      |tx AS (SELECT b.doc_id, d2.text AS t
      |       FROM base b JOIN documents d2 ON b.seed = d2.doc_id),
      |ext AS (SELECT doc_id, doc_id % 13 = 0 AS is404,
      |          CASE WHEN doc_id % 13 = 0 THEN 'gone'
      |               ELSE trim(regexp_replace(t || ' next > page',
      |                                        '[ \t\n\r]+', ' ', 'g')) END AS extracted
      |        FROM tx),
      |ws AS (SELECT doc_id, is404,
      |         list_filter(string_split(extracted, ' '), w -> length(w) > 0) AS ws
      |       FROM ext),
      |fl AS (SELECT doc_id, NOT is404 AS ok_http,
      |         CAST(len(ws) AS BIGINT) AS n_tokens,
      |         CAST(len(list_filter(ws, w -> w IN ('the', 'a'))) AS BIGINT) AS n_stop,
      |         list_reduce([CAST(0 AS BIGINT)] ||
      |           list_transform(ws, w -> list_reduce(
      |             [CAST(0 AS BIGINT)] ||
      |               list_transform(string_split(w, ''), c -> CAST(ascii(c) AS BIGINT)),
      |             (a, b) -> (a*31 + b) % 1000003)),
      |           (a, h) -> (a * 1000003 + h) % 2147483647) AS fp
      |       FROM ws),
      |f3 AS (SELECT *,
      |         ok_http AND n_stop * 20 > n_tokens AS ok_lang,
      |         ok_http AND n_stop * 20 > n_tokens AND n_tokens >= 30 AS ok_q
      |       FROM fl),
      |k AS (SELECT fp, min(doc_id) AS keeper FROM f3 WHERE ok_q GROUP BY fp),
      |f4 AS (SELECT f3.*, ok_q AND f3.doc_id = k.keeper AS ok_u
      |       FROM f3 LEFT JOIN k ON f3.fp = k.fp)
      |SELECT CAST(count(*) AS BIGINT) AS n_fetched,
      |       CAST(sum(CASE WHEN ok_http THEN 1 ELSE 0 END) AS BIGINT) AS n_http_ok,
      |       CAST(sum(CASE WHEN ok_lang THEN 1 ELSE 0 END) AS BIGINT) AS n_lang_ok,
      |       CAST(sum(CASE WHEN ok_q THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_ok,
      |       CAST(sum(CASE WHEN ok_u THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
      |       CAST(sum(CASE WHEN ok_u THEN n_tokens ELSE 0 END) AS BIGINT) AS tokens_final
      |FROM f4""".stripMargin

  /** qx79 twin — both retrieval legs replayed independently (the qx2
    * dot-product fold for dense, the qx54 micro-unit BM25 expression
    * SUMMED over the query doc's distinct terms for lexical), cut to
    * top-20 with row_number over (score DESC, doc_id ASC) — the order
    * topk_by guarantees — then the identical integer RRF (k = 60,
    * floor division) and the fused top-10. Absent-leg ranks are 0 on
    * both sides. */
  val qx79: String =
    s"""WITH $EMB,
       |dsc AS (
       |  SELECT q.qid, n.vec_id AS doc_id,
       |         CAST(CAST(list_sum(list_transform(range(1, len(v) + 1), i -> v[i] * qv[i])) AS BIGINT) AS DOUBLE)
       |           / (sqrt(CAST(n2 AS DOUBLE)) * sqrt(CAST(qn2 AS DOUBLE))) AS cosine
       |  FROM n CROSS JOIN q WHERE n.vec_id <> q.qid AND q.qid < 5000),
       |drk AS (SELECT qid, doc_id,
       |               CAST(row_number() OVER (PARTITION BY qid
       |                 ORDER BY cosine DESC, doc_id ASC) AS BIGINT) AS dense_rk
       |        FROM dsc QUALIFY dense_rk <= 20),
       |""".stripMargin + HYBRID_LEX_FUSION

  /** qx79b twin — the dense leg is the FULL qx44 IVFADC replay (both
    * trainings, residual ADC, exact refine) nested as a CTE, cut to
    * top-20 on qx79's capped query slice; the lexical and fusion SQL
    * is the SHARED suffix qx79 uses, so only the dense leg differs. */
  val qx79b: String =
    s"""WITH dt AS (
       |${ivfadcSql(" AND a.vec_id < 5000", 20)}
       |),
       |drk AS (SELECT qid, vec_id AS doc_id, CAST(rk AS BIGINT) AS dense_rk FROM dt),
       |""".stripMargin + HYBRID_LEX_FUSION

  /** The hybrid twins' shared lexical-BM25 + RRF-fusion suffix: every
    * CTE from the word explosion to the fused top-10, expecting a
    * `drk(qid, doc_id, dense_rk)` CTE upstream. Split so qx106 can
    * reuse the lexical leg (through `lrk`) without the fusion. */
  private lazy val HYBRID_LEX_FUSION: String = HYBRID_LEX + HYBRID_FUSION_TAIL

  private lazy val HYBRID_LEX: String =
    s"""w AS (SELECT doc_id,
       |             unnest(list_filter(string_split(text, ' '), x -> length(x) > 0)) AS word
       |      FROM documents),
       |qt AS (SELECT DISTINCT doc_id AS qid, word FROM w
       |       WHERE doc_id % 50 = 0 AND doc_id < 5000),
       |dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM w GROUP BY doc_id),
       |st AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n,
       |              (SELECT CAST(count(*) AS BIGINT) FROM w) AS sumdl),
       |tf AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf FROM w
       |       WHERE word IN (SELECT word FROM qt)
       |       GROUP BY doc_id, word),
       |df AS (SELECT word, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY word),
       |sc AS (SELECT tf.word, tf.doc_id,
       |              CAST(floor(((CAST(n - df AS DOUBLE) + 5e-1) / (CAST(df AS DOUBLE) + 5e-1)) *
       |                ((CAST(tf AS DOUBLE) * 22e-1) / (CAST(tf AS DOUBLE) + 12e-1 *
       |                (25e-2 + 75e-2 * (CAST(dl * n AS DOUBLE) / CAST(sumdl AS DOUBLE))))) * 1e6 + 5e-1) AS BIGINT) AS s_micro
       |       FROM tf JOIN dl USING (doc_id) JOIN df USING (word), st),
       |ls AS (SELECT qt.qid, sc.doc_id, CAST(sum(s_micro) AS BIGINT) AS score_micro
       |       FROM sc JOIN qt USING (word) WHERE sc.doc_id <> qt.qid
       |       GROUP BY qt.qid, sc.doc_id),
       |lrk AS MATERIALIZED (SELECT qid, doc_id,
       |               CAST(row_number() OVER (PARTITION BY qid
       |                 ORDER BY score_micro DESC, doc_id ASC) AS BIGINT) AS lex_rk
       |        FROM ls QUALIFY lex_rk <= 20)""".stripMargin

  private lazy val HYBRID_FUSION_TAIL: String =
    s""",
       |f AS (SELECT COALESCE(d.qid, l.qid) AS qid,
       |             COALESCE(d.doc_id, l.doc_id) AS doc_id,
       |             COALESCE(d.dense_rk, 0) AS dense_rk,
       |             COALESCE(l.lex_rk, 0) AS lex_rk,
       |             CAST((CASE WHEN d.dense_rk IS NULL THEN 0
       |                        ELSE 1000000 // (60 + d.dense_rk) END) +
       |                  (CASE WHEN l.lex_rk IS NULL THEN 0
       |                        ELSE 1000000 // (60 + l.lex_rk) END) AS BIGINT) AS rrf_micro
       |      FROM drk d FULL OUTER JOIN lrk l
       |        ON d.qid = l.qid AND d.doc_id = l.doc_id)
       |SELECT qid, rk, doc_id, rrf_micro, dense_rk, lex_rk
       |FROM (SELECT *, CAST(row_number() OVER (PARTITION BY qid
       |        ORDER BY rrf_micro DESC, doc_id ASC) AS BIGINT) AS rk FROM f) t
       |WHERE rk <= 10""".stripMargin

  /** qx106 twin — the triplet miner over the SAME dense/lexical legs
    * as qx79 (shared CTE fragments): positive = dense rank 1, hard
    * negatives = the two best lexical ranks absent from the dense
    * top-20 (−1 sentinels when fewer exist), plus the lexical∩dense
    * overlap count. */
  val qx106: String =
    s"""WITH $EMB,
       |dsc AS (
       |  SELECT q.qid, n.vec_id AS doc_id,
       |         CAST(CAST(list_sum(list_transform(range(1, len(v) + 1), i -> v[i] * qv[i])) AS BIGINT) AS DOUBLE)
       |           / (sqrt(CAST(n2 AS DOUBLE)) * sqrt(CAST(qn2 AS DOUBLE))) AS cosine
       |  FROM n CROSS JOIN q WHERE n.vec_id <> q.qid AND q.qid < 5000),
       |drk AS MATERIALIZED (SELECT qid, doc_id,
       |               CAST(row_number() OVER (PARTITION BY qid
       |                 ORDER BY cosine DESC, doc_id ASC) AS BIGINT) AS dense_rk
       |        FROM dsc QUALIFY dense_rk <= 20),
       |""".stripMargin + HYBRID_LEX + TRIPLET_TAIL

  /** qx106b twin — the miner's dense leg is the FULL qx44 IVFADC
    * replay (qx79b's dense CTE verbatim); the lexical leg and the
    * triplet tail are the SHARED fragments qx106 uses, so only the
    * dense leg differs — the oracle-side mirror of the Scala-side
    * factoring. */
  val qx106b: String =
    s"""WITH dt AS (
       |${ivfadcSql(" AND a.vec_id < 5000", 20)}
       |),
       |drk AS MATERIALIZED (SELECT qid, vec_id AS doc_id, CAST(rk AS BIGINT) AS dense_rk FROM dt),
       |""".stripMargin + HYBRID_LEX + TRIPLET_TAIL

  /** The triplet-miner tail shared by qx106/qx106b: positive, hard
    * negatives (−1 sentinels) and the overlap count, expecting
    * `drk(qid, doc_id, dense_rk)` and `lrk(qid, doc_id, lex_rk)`
    * CTEs upstream. */
  private lazy val TRIPLET_TAIL: String =
    s""",
       |pos AS (SELECT qid, doc_id AS pos_id FROM drk WHERE dense_rk = 1),
       |negc AS (SELECT l.qid, l.doc_id, l.lex_rk FROM lrk l
       |         LEFT JOIN drk d ON l.qid = d.qid AND l.doc_id = d.doc_id
       |         WHERE d.doc_id IS NULL),
       |negr AS (SELECT qid, doc_id,
       |                row_number() OVER (PARTITION BY qid
       |                  ORDER BY lex_rk ASC, doc_id ASC) AS nr FROM negc),
       |ng AS (SELECT qid,
       |         CAST(coalesce(max(CASE WHEN nr = 1 THEN doc_id END), -1) AS BIGINT) AS neg1_id,
       |         CAST(coalesce(max(CASE WHEN nr = 2 THEN doc_id END), -1) AS BIGINT) AS neg2_id
       |       FROM negr GROUP BY qid),
       |ovl AS (SELECT l.qid, CAST(count(*) AS BIGINT) AS n_overlap
       |        FROM lrk l JOIN drk d ON l.qid = d.qid AND l.doc_id = d.doc_id
       |        GROUP BY l.qid)
       |SELECT p.qid, p.pos_id,
       |       CAST(coalesce(ng.neg1_id, -1) AS BIGINT) AS neg1_id,
       |       CAST(coalesce(ng.neg2_id, -1) AS BIGINT) AS neg2_id,
       |       CAST(coalesce(ovl.n_overlap, 0) AS BIGINT) AS n_overlap
       |FROM pos p LEFT JOIN ng ON p.qid = ng.qid
       |           LEFT JOIN ovl ON p.qid = ovl.qid""".stripMargin

  /** qx80 twin — the blocklist scan re-derived by brute force: every
    * (document, pattern, start-position) substring comparison is
    * enumerated (O(len · terms), the cost whose avoidance is the
    * operator's reason to exist), so ALL occurrences — overlapping,
    * nested, shared-suffix — are found by construction. The VALUES
    * list is generated from the SAME Scala constant the Spark side
    * scans with ([[graft.operators.AhoCorasick.GateBlocklist]]); the
    * two sides cannot drift. */
  val qx80: String = {
    val vals = graft.operators.AhoCorasick.GateBlocklist.zipWithIndex
      .map { case (p, i) => s"(${i + 1}, '$p', ${p.length})" }
      .mkString(", ")
    s"""WITH p(pid, pat, plen) AS (VALUES $vals),
       |occ AS (SELECT doc_id, pid, CAST(i AS BIGINT) AS i
       |        FROM documents, p, unnest(range(1, length(text) - plen + 2)) t(i)
       |        WHERE substr(text, CAST(i AS INTEGER), CAST(plen AS INTEGER)) = pat)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits,
       |       CAST(count(DISTINCT pid) AS BIGINT) AS n_patterns,
       |       CAST(min(i) AS BIGINT) AS first_pos,
       |       CAST(sum(pid) AS BIGINT) AS hit_sig
       |FROM occ GROUP BY doc_id""".stripMargin
  }

  /** qx81 twin — priority sampling replayed closed-form: the identical
    * squared-affine hash, the identical one-multiply-one-divide
    * priority (both IEEE-correctly-rounded, so the doubles are
    * bit-equal), a row_number over (priority DESC, doc_id ASC) — the
    * topk_by order — τ read at rank k+1, and the max(w, τ) estimator
    * floored to micro-units. */
  val qx81: String =
    """WITH d AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS w,
      |                  (((doc_id * 1000003 + 12345) % 2147483647) *
      |                   ((doc_id * 1000003 + 12345) % 2147483647)) % 2147483647 AS h
      |           FROM documents),
      |p AS (SELECT doc_id, w,
      |             CAST(w AS DOUBLE) * 2147483647.0 / (CAST(h AS DOUBLE) + 5e-1) AS pri
      |      FROM d),
      |r AS (SELECT *, CAST(row_number() OVER
      |        (ORDER BY pri DESC, doc_id ASC) AS BIGINT) AS rk FROM p),
      |tau AS (SELECT pri AS tau FROM r WHERE rk = 65)
      |SELECT rk, doc_id, w,
      |       CAST(floor(pri * 1e6 + 5e-1) AS BIGINT) AS pri_micro,
      |       CAST(floor(greatest(CAST(w AS DOUBLE), tau) * 1e6 + 5e-1) AS BIGINT) AS est_micro
      |FROM r, tau WHERE rk <= 64""".stripMargin

  /** qx82 twin — the HRW argmax replayed per (doc, shard) pair: the
    * identical squared-affine weight, the identical weight·16+s
    * combined max (so winner selection has no tie ambiguity to
    * replicate), at N = 8 and N = 9. */
  val qx82: String =
    """WITH a AS (SELECT doc_id, s,
      |             (((doc_id * 1000003 + s * 97 + 7) % 2147483647) *
      |              ((doc_id * 1000003 + s * 97 + 7) % 2147483647) % 2147483647) * 16 + s AS key
      |           FROM documents, unnest(range(0, 9)) t(s)),
      |m8 AS (SELECT doc_id, CAST(max(key) % 16 AS BIGINT) AS shard8 FROM a WHERE s < 8 GROUP BY doc_id),
      |m9 AS (SELECT doc_id, CAST(max(key) % 16 AS BIGINT) AS shard9 FROM a GROUP BY doc_id)
      |SELECT doc_id, shard8, shard9,
      |       CAST(CASE WHEN shard8 <> shard9 THEN 1 ELSE 0 END AS BIGINT) AS moved
      |FROM m8 JOIN m9 USING (doc_id)""".stripMargin

  /** qx83 twin — both epochs' Feistel keys, with the round expression
    * GENERATED by the same builder the Spark side compiles
    * ([[graft.operators.EpochShuffle.keyExpr]]); only the integer-
    * division token differs (`//` here, `div` there). */
  val qx83: String = {
    val k1 = graft.operators.EpochShuffle.keyExpr("doc_id", 1, "//")
    val k2 = graft.operators.EpochShuffle.keyExpr("doc_id", 2, "//")
    s"""SELECT doc_id, CAST($k1 AS BIGINT) AS k1, CAST($k2 AS BIGINT) AS k2
       |FROM documents""".stripMargin
  }

  /** qx84 twin — the Gopher rule screen replayed rule-for-rule in the
    * same integer cross-multiplied thresholds; translate()-deletion for
    * alpha detection matches Spark's exactly (no regex dialect). */
  val qx84: String =
    """WITH d AS (SELECT lang, source, text,
      |             list_filter(string_split(text, ' '), w -> length(w) > 0) AS ws
      |           FROM documents),
      |s AS (SELECT lang, source,
      |        CAST(len(ws) AS BIGINT) AS n_words,
      |        CAST(list_sum([CAST(0 AS BIGINT)] || list_transform(ws, w -> CAST(length(w) AS BIGINT))) AS BIGINT) AS sum_wc,
      |        CAST(len(list_filter(ws, w -> w IN ('the', 'a'))) AS BIGINT) AS n_stop,
      |        CAST(len(list_filter(ws, w -> length(translate(w, 'abcdefghijklmnopqrstuvwxyz', '')) < length(w))) AS BIGINT) AS n_alpha,
      |        CAST(length(text) - length(replace(text, '#', '')) AS BIGINT)
      |          + CAST((length(text) - length(replace(text, '...', ''))) // 3 AS BIGINT) AS n_sym
      |      FROM d),
      |f AS (SELECT lang, source, n_words,
      |        CASE WHEN n_words BETWEEN 50 AND 100000 THEN 0 ELSE 1 END AS f1,
      |        CASE WHEN 3 * n_words <= sum_wc AND sum_wc <= 10 * n_words THEN 0 ELSE 1 END AS f2,
      |        CASE WHEN 10 * n_sym <= n_words THEN 0 ELSE 1 END AS f3,
      |        CASE WHEN 5 * n_alpha >= 4 * n_words THEN 0 ELSE 1 END AS f4,
      |        CASE WHEN n_stop >= 2 THEN 0 ELSE 1 END AS f5
      |      FROM s),
      |m AS (SELECT *, f1 + 2*f2 + 4*f3 + 8*f4 + 16*f5 AS mask,
      |             CASE WHEN f1 + f2 + f3 + f4 + f5 = 0 THEN 1 ELSE 0 END AS pass
      |      FROM f)
      |SELECT lang, source,
      |       CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(pass) AS BIGINT) AS n_pass,
      |       CAST(sum(f1) AS BIGINT) AS f_nwords,
      |       CAST(sum(f2) AS BIGINT) AS f_meanlen,
      |       CAST(sum(f3) AS BIGINT) AS f_symbol,
      |       CAST(sum(f4) AS BIGINT) AS f_alpha,
      |       CAST(sum(f5) AS BIGINT) AS f_stop,
      |       CAST(sum(mask) AS BIGINT) AS mask_sum,
      |       CAST(sum(pass * n_words) AS BIGINT) AS kept_tokens
      |FROM m GROUP BY lang, source""".stripMargin

  /** The CDC chunker replayed char-for-char (shared by the qx85 and
    * qx90 twins): the same guarded end-position filter (window W=8,
    * residue 17 mod 64), the same [0]+ends+[n] pair walk, both Horner
    * chunk hashes (31/131). Ends at `ck(doc_id, source, start, len,
    * ch1, ch2)` — one row per chunk occurrence. */
  private lazy val CDC_CHUNKS: String =
    s"""cd AS (SELECT doc_id, source, string_split(text, '') AS cs FROM documents),
       |b AS (SELECT doc_id, source, cs, CAST(len(cs) AS BIGINT) AS n,
       |        CASE WHEN len(cs) >= 8 THEN
       |          list_filter(range(8, len(cs) + 1),
       |            i -> list_reduce([CAST(0 AS BIGINT)] ||
       |                   list_transform(list_slice(cs, i - 7, i), c -> CAST(ascii(c) AS BIGINT)),
       |                   (a, x) -> (a * 31 + x) % $P) % 64 = 17)
       |        ELSE [] END AS ends
       |      FROM cd),
       |bp AS (SELECT doc_id, source, cs,
       |         ([CAST(0 AS BIGINT)] || ends || [n]) AS bpos FROM b),
       |pr AS (SELECT doc_id, source, cs, unnest(
       |         list_filter(list_transform(range(2, len(bpos) + 1),
       |           j -> {'start': bpos[j - 1] + 1, 'len': bpos[j] - bpos[j - 1]}),
       |           c -> c.len > 0)) AS c
       |       FROM bp),
       |ck AS (SELECT doc_id, source, CAST(c.start AS BIGINT) AS start, c.len AS len,
       |         list_reduce([CAST(0 AS BIGINT)] || list_transform(
       |             list_slice(cs, c.start, c.start + c.len - 1), ch -> CAST(ascii(ch) AS BIGINT)),
       |           (a, x) -> (a * 31 + x) % $P) AS ch1,
       |         list_reduce([CAST(0 AS BIGINT)] || list_transform(
       |             list_slice(cs, c.start, c.start + c.len - 1), ch -> CAST(ascii(ch) AS BIGINT)),
       |           (a, x) -> (a * 131 + x) % $P) AS ch2
       |       FROM pr)""".stripMargin

  /** qx85 twin — [[CDC_CHUNKS]] + the identical two-level per-source
    * accounting. */
  val qx85: String =
    s"""WITH $CDC_CHUNKS,
       |g AS (SELECT source, ch1, ch2, len, CAST(count(*) AS BIGINT) AS n_occ
       |      FROM ck GROUP BY 1, 2, 3, 4)
       |SELECT source,
       |       CAST(sum(n_occ) AS BIGINT) AS n_chunks,
       |       CAST(count(*) AS BIGINT) AS n_distinct,
       |       CAST(sum(len * n_occ) AS BIGINT) AS sum_bytes,
       |       CAST(sum(len * (n_occ - 1)) AS BIGINT) AS dup_bytes,
       |       CAST(sum(((ch1 * 1009 + len) % $P) * n_occ) AS BIGINT) AS chunk_sig
       |FROM g GROUP BY source""".stripMargin

  /** qx91 twin — the DSIR selection replayed: identical hashed uni+bi
    * buckets, the same integer surprisal-difference weights (`//` for
    * `div`), the same min-shifted priority, rank by (pri DESC, doc_id
    * ASC). */
  val qx91: String = {
    val B = 8192
    s"""WITH $DOCS,
       |uni AS (SELECT doc_id, unnest(list_transform(h, x -> x % $B)) AS b FROM wh),
       |bi AS (SELECT doc_id,
       |         unnest(list_transform(range(1, len(h)), i -> ((h[i]*1009 + h[i+1]) % $P) % $B)) AS b
       |       FROM wh WHERE len(h) >= 2),
       |f AS (SELECT * FROM uni UNION ALL SELECT * FROM bi),
       |ft AS (SELECT f.* FROM f JOIN docs USING (doc_id) WHERE source = 'src0'),
       |cr AS (SELECT b, CAST(count(*) AS BIGINT) AS cr FROM f GROUP BY b),
       |ct AS (SELECT b, CAST(count(*) AS BIGINT) AS ct FROM ft GROUP BY b),
       |tot AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM f) AS nr,
       |               (SELECT CAST(count(*) AS BIGINT) FROM ft) AS nt),
       |w AS (SELECT cr.b,
       |             (10000 * (nr + $B)) // (cr + 1) -
       |             (10000 * (nt + $B)) // (COALESCE(ct, 0) + 1) AS w
       |      FROM cr LEFT JOIN ct USING (b), tot),
       |sc AS (SELECT d.doc_id, d.source,
       |              COALESCE(s.s, 0) AS s
       |       FROM docs d LEFT JOIN (SELECT doc_id, CAST(sum(w) AS BIGINT) AS s
       |                              FROM f JOIN w USING (b) GROUP BY doc_id) s
       |         USING (doc_id)),
       |dmin AS (SELECT min(s) AS m FROM sc),
       |dpri AS (SELECT doc_id, source, s,
       |             CAST(s - m + 1 AS DOUBLE) * 2147483647.0 /
       |               (CAST((((doc_id * 1000003 + 12345) % 2147483647) *
       |                      ((doc_id * 1000003 + 12345) % 2147483647)) % 2147483647 AS DOUBLE) + 5e-1) AS pri
       |      FROM sc, dmin),
       |drk AS (SELECT *, CAST(row_number() OVER
       |        (ORDER BY pri DESC, doc_id ASC) AS BIGINT) AS rk FROM dpri)
       |SELECT rk, doc_id, source, s AS dsir_score, pri
       |FROM drk WHERE rk <= 64""".stripMargin
  }

  /** qx93 twin — the drift monitor replayed: identical hashed uni+bi
    * buckets (qx91's spelling), per-(source, bucket) counts, integer
    * micro-unit histograms with `//` floors, L1 over the FULL corpus
    * bucket set (missing source buckets contribute |0 − p_c|), argmax
    * gap with ties to the smallest bucket. */
  val qx93: String = {
    val B = 8192
    s"""WITH $DOCS,
       |uni AS (SELECT doc_id, unnest(list_transform(h, x -> x % $B)) AS b FROM wh),
       |bi AS (SELECT doc_id,
       |         unnest(list_transform(range(1, len(h)), i -> ((h[i]*1009 + h[i+1]) % $P) % $B)) AS b
       |       FROM wh WHERE len(h) >= 2),
       |f AS (SELECT d.source, u.b
       |      FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi) u
       |      JOIN docs d USING (doc_id)),
       |bs AS (SELECT source, b, CAST(count(*) AS BIGINT) AS cs FROM f GROUP BY 1, 2),
       |st AS (SELECT source, CAST(sum(cs) AS BIGINT) AS ns FROM bs GROUP BY source),
       |cp AS (SELECT b, CAST(sum(cs) AS BIGINT) AS cc FROM bs GROUP BY b),
       |ct AS (SELECT CAST(sum(cc) AS BIGINT) AS nc FROM cp),
       |g AS (SELECT st.source, st.ns, cp.b,
       |             (1000000 * COALESCE(bs.cs, 0)) // st.ns AS ps,
       |             (1000000 * cp.cc) // ct.nc AS pc
       |      FROM st CROSS JOIN cp CROSS JOIN ct
       |      LEFT JOIN bs ON bs.source = st.source AND bs.b = cp.b)
       |SELECT source, CAST(max(ns) AS BIGINT) AS n_feats,
       |       CAST(sum(abs(ps - pc)) AS BIGINT) AS l1_micro,
       |       CAST(-(max({'a': abs(ps - pc), 'nb': -b, 'g': ps - pc}).nb) AS BIGINT) AS top_bucket,
       |       CAST(max({'a': abs(ps - pc), 'nb': -b, 'g': ps - pc}).g AS BIGINT) AS top_gap_micro
       |FROM g GROUP BY source""".stripMargin
  }

  /** qx94 twin — the retrain-trigger drift decision: the qx93 feature
    * machinery re-aimed at a REFERENCE split (doc_id < 3n/5 = the
    * build corpus, the rest = admitted batches per source), basis =
    * reference ∪ source buckets (either side's exclusive mass counts),
    * micro-unit floors on both engines, and the pinned CASE rule
    * (l1_micro > 750000 ⇒ retrain) so the DECISION, not just the
    * statistic, is hash-checked. */
  /** The hashed uni+bigram feature table + corpus cut shared by the
    * drift-decision twins (qx94, qx97). */
  private val DRIFT_FEATS = {
    val B = 8192
    s"""uni AS (SELECT doc_id, unnest(list_transform(h, x -> x % $B)) AS b FROM wh),
       |bi AS (SELECT doc_id,
       |         unnest(list_transform(range(1, len(h)), i -> ((h[i]*1009 + h[i+1]) % $P) % $B)) AS b
       |       FROM wh WHERE len(h) >= 2),
       |f AS (SELECT u.doc_id, d.source, u.b
       |      FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi) u
       |      JOIN docs d USING (doc_id)),
       |cut AS (SELECT (3 * count(*)) // 5 AS c FROM docs)""".stripMargin
  }

  /** One qx94-shaped drift-L1 chain over the feature table `f` — CTE
    * names suffixed `sfx`, rows restricted by `extra` (an AND-able
    * predicate on doc_id; empty = full scan). Emits `l$sfx`(source,
    * n_feats, l1_micro). */
  private def driftL1Chain(sfx: String, extra: String): String =
    s"""rh$sfx AS (SELECT b, CAST(count(*) AS BIGINT) AS cr FROM f, cut WHERE doc_id < c $extra GROUP BY b),
       |rt$sfx AS (SELECT CAST(sum(cr) AS BIGINT) AS nr FROM rh$sfx),
       |ch$sfx AS (SELECT source, b, CAST(count(*) AS BIGINT) AS cs FROM f, cut WHERE doc_id >= c $extra GROUP BY 1, 2),
       |st$sfx AS (SELECT source, CAST(sum(cs) AS BIGINT) AS ns FROM ch$sfx GROUP BY 1),
       |basis$sfx AS (SELECT DISTINCT source, b FROM
       |          (SELECT st$sfx.source, rh$sfx.b FROM st$sfx CROSS JOIN rh$sfx
       |           UNION ALL SELECT source, b FROM ch$sfx)),
       |g$sfx AS (SELECT basis$sfx.source, st$sfx.ns, rt$sfx.nr,
       |             COALESCE(ch$sfx.cs, 0) AS cs, COALESCE(rh$sfx.cr, 0) AS cr
       |      FROM basis$sfx JOIN st$sfx USING (source) CROSS JOIN rt$sfx
       |      LEFT JOIN rh$sfx ON rh$sfx.b = basis$sfx.b
       |      LEFT JOIN ch$sfx ON ch$sfx.source = basis$sfx.source AND ch$sfx.b = basis$sfx.b),
       |l$sfx AS (SELECT source, CAST(max(ns) AS BIGINT) AS n_feats,
       |             CAST(sum(abs((1000000 * cs) // ns - (1000000 * cr) // nr)) AS BIGINT) AS l1_micro
       |      FROM g$sfx GROUP BY source)""".stripMargin

  val qx94: String =
    s"""WITH $DOCS,
       |$DRIFT_FEATS,
       |${driftL1Chain("", "")}
       |SELECT source, n_feats, l1_micro,
       |       CASE WHEN l1_micro > 750000 THEN 'retrain' ELSE 'keep' END AS decision
       |FROM l""".stripMargin

  /** qx97 twin — the SAMPLED drift decision next to the full one: the
    * identical L1 chain replayed twice, once over every doc and once
    * over the pinned deterministic sample (doc_id % 2 = 0, the
    * HybridIndex.healthSamplePred rule applied to the one leg SQL can
    * replay), LEFT-joined so a source with no sampled docs degrades to
    * an explicit 'nosample' verdict instead of vanishing. The hash
    * pins both statistics, both decisions AND the agreement column —
    * the round-12 sampling economics made oracle-visible. */
  val qx97: String = {
    val decF = "CASE WHEN lf.l1_micro > 750000 THEN 'retrain' ELSE 'keep' END"
    val decS = "CASE WHEN ls.l1_micro > 750000 THEN 'retrain' ELSE 'keep' END"
    s"""WITH $DOCS,
       |$DRIFT_FEATS,
       |${driftL1Chain("f", "")},
       |${driftL1Chain("s", "AND doc_id % 2 = 0")}
       |SELECT lf.source, lf.n_feats AS n_full, lf.l1_micro AS l1_full,
       |       $decF AS dec_full,
       |       COALESCE(ls.n_feats, -1) AS n_samp,
       |       COALESCE(ls.l1_micro, -1) AS l1_samp,
       |       CASE WHEN ls.source IS NULL THEN 'nosample' ELSE $decS END AS dec_samp,
       |       CASE WHEN ls.source IS NULL THEN 'nosample'
       |            WHEN $decS = $decF THEN 'agree' ELSE 'diverge' END AS verdict
       |FROM lf LEFT JOIN ls ON lf.source = ls.source""".stripMargin
  }

  /** qx95 twin — the skewed-domain policy join replayed as a PLAIN
    * join + group-by (DuckDB needs no salt; the oracle checks the
    * salted plan changed NOTHING semantically: same per-domain counts,
    * same quota, same quota-weighted signature — every doc×quota
    * pairing exactly once). */
  val qx95: String =
    """WITH d AS (SELECT doc_id,
      |        CASE WHEN doc_id % 2 = 0 THEN 'megacorp.com'
      |             ELSE 'site' || CAST(doc_id % 40 AS VARCHAR) || '.' ||
      |                  (['com','org','net','io'])[CAST(doc_id % 4 AS INTEGER) + 1] END AS domain,
      |        (doc_id * 1000003 + 12345) % 2147483647 AS h
      |      FROM documents),
      |q AS (SELECT domain,
      |        2 + list_reduce([CAST(0 AS BIGINT)] ||
      |              list_transform(string_split(domain, ''), c -> CAST(ascii(c) AS BIGINT)),
      |              (a, b) -> (a*31 + b) % 1000003) % 7 AS quota
      |      FROM (SELECT DISTINCT domain FROM d)),
      |j AS (SELECT d.domain, d.h, q.quota FROM d JOIN q USING (domain))
      |SELECT domain, CAST(count(*) AS BIGINT) AS n_domain,
      |       CAST(max(quota) AS BIGINT) AS quota,
      |       CAST(least(count(*), max(quota)) AS BIGINT) AS admitted,
      |       CAST(sum((h * quota) % 2147483647) AS BIGINT) AS sig
      |FROM j GROUP BY domain""".stripMargin

  /** qx96 twin — the Viterbi segmentation replayed stage for stage:
    * the substring lexicon, `maxLen` DP stages (packed max —
    * (total·8 + L), the identical tie-break integer the kernel
    * maximizes), a `maxLen`-step backtrack accumulating the piece
    * count and the right-to-left Horner signature, then qx61's apply
    * join per doc. All generated CTEs (the bpeChain/Hilbert builder
    * discipline); the stages guard on length so shorter words pass
    * through untouched. maxLen = 12 covers the generated corpora
    * (observed max word length 8) with margin, and the `seg` CTE
    * GUARDS the bound with DuckDB `error()` (round-11 advice #4): a
    * regenerated corpus carrying a longer word fails the oracle run
    * with an explicit "word exceeds maxLen" message instead of
    * silently NULLing vit_score and reading as a Spark-side
    * regression. */
  val qx96: String = {
    val maxLen = 12; val maxPiece = 4
    def h(e: String): String =
      s"list_reduce([CAST(0 AS BIGINT)] || list_transform(string_split($e, ''), " +
        s"c -> CAST(ascii(c) AS BIGINT)), (a, b) -> (a*31 + b) % 1000003)"
    val sb = new StringBuilder
    sb ++= s"WITH $DOCS,\n"
    sb ++= "words AS (SELECT DISTINCT w AS word FROM docs, unnest(ws) t(w)),\n"
    sb ++= s"""vp AS (SELECT piece FROM (
              |  SELECT DISTINCT word, substr(word, i, l) AS piece
              |  FROM words, unnest(range(2, ${maxPiece + 1})) tl(l),
              |       unnest(range(1, length(word) - l + 2)) tp(i))
              |  GROUP BY piece HAVING count(*) >= 3),
              |s0 AS (SELECT word FROM words)""".stripMargin
    for (i <- 1 to maxLen) {
      val cands = (1 to math.min(maxPiece, i)).map { l =>
        val prev = if (i - l == 0) "CAST(0 AS BIGINT)" else s"pk${i - l} // 8"
        val piece = s"substr(word, $i - $l + 1, $l)"
        val inVocab = if (l == 1) "TRUE" else s"$piece IN (SELECT piece FROM vp)"
        s"""CASE WHEN length(word) >= $i AND $inVocab
           |  THEN ($prev + 100*$l*$l + ${h(piece)} % 50) * 8 + $l END""".stripMargin
      }.mkString(",\n  ")
      sb ++= s""",
                |s$i AS (SELECT *, greatest(
                |  $cands) AS pk$i FROM s${i - 1})""".stripMargin
    }
    val pkAt = (v: String) =>
      s"CASE $v ${(1 to maxLen).map(i => s"WHEN $i THEN pk$i").mkString(" ")} END"
    sb ++= s""",
              |t0 AS (SELECT *, length(word) AS pos0,
              |       CAST(0 AS BIGINT) AS np0, CAST(0 AS BIGINT) AS cs0 FROM s$maxLen)""".stripMargin
    for (k <- 1 to maxLen) {
      sb ++= s""",
                |u$k AS (SELECT *, CASE WHEN pos${k - 1} > 0
                |  THEN CAST(${pkAt(s"pos${k - 1}")} % 8 AS INTEGER) END AS l$k FROM t${k - 1}),
                |t$k AS (SELECT *,
                |  CASE WHEN pos${k - 1} > 0 THEN pos${k - 1} - l$k ELSE pos${k - 1} END AS pos$k,
                |  CASE WHEN pos${k - 1} > 0 THEN np${k - 1} + 1 ELSE np${k - 1} END AS np$k,
                |  CASE WHEN pos${k - 1} > 0
                |    THEN (cs${k - 1} * 1009 + ${h(s"substr(word, pos${k - 1} - l$k + 1, l$k)")}) % 2147483647
                |    ELSE cs${k - 1} END AS cs$k FROM u$k)""".stripMargin
    }
    sb ++= s""",
              |seg AS (SELECT word,
              |        CASE WHEN length(word) > $maxLen
              |             THEN error('qx96 oracle: word "' || word || '" exceeds maxLen=$maxLen — regenerate the oracle stages with a larger bound')
              |             ELSE np$maxLen END AS n_pieces,
              |        ${pkAt("length(word)")} // 8 AS vit_score,
              |        cs$maxLen AS vit_sig FROM t$maxLen)
              |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
              |       CAST(sum(n_pieces) AS BIGINT) AS n_vit_tokens,
              |       CAST(sum(vit_score) AS BIGINT) AS vit_score,
              |       CAST(sum(vit_sig) AS BIGINT) AS vit_sig
              |FROM docs, unnest(ws) t(w) JOIN seg ON w = seg.word
              |GROUP BY doc_id""".stripMargin
    sb.result()
  }

  /** qx90 twin — [[CDC_CHUNKS]] + the global keeper election (min
    * struct over (first doc_id, first start, source) per identity) and
    * the per-source reconciled accounting. */
  val qx90: String =
    s"""WITH $CDC_CHUNKS,
       |ps AS (SELECT ch1, ch2, len, source, CAST(count(*) AS BIGINT) AS n_occ,
       |              min({'fd': doc_id, 'fs': start}) AS fo
       |       FROM ck GROUP BY 1, 2, 3, 4),
       |kp AS (SELECT ch1, ch2, len,
       |              min({'fd': fo.fd, 'fs': fo.fs, 'src': source}) AS k
       |       FROM ps GROUP BY 1, 2, 3),
       |j AS (SELECT ps.source, ps.len, ps.ch1, ps.n_occ,
       |             CASE WHEN ps.source = kp.k.src THEN 1 ELSE 0 END AS owned
       |      FROM ps JOIN kp ON ps.ch1 = kp.ch1 AND ps.ch2 = kp.ch2 AND ps.len = kp.len)
       |SELECT source,
       |       CAST(sum(n_occ) AS BIGINT) AS n_occ,
       |       CAST(sum(owned) AS BIGINT) AS n_owned,
       |       CAST(sum(len * owned) AS BIGINT) AS owned_bytes,
       |       CAST(sum(len * (n_occ - owned)) AS BIGINT) AS dup_bytes,
       |       CAST(sum(len * n_occ * (1 - owned)) AS BIGINT) AS cross_dup_bytes,
       |       CAST(sum(((ch1 * 1009 + len) % $P) * owned) AS BIGINT) AS store_sig
       |FROM j GROUP BY source""".stripMargin

  /** qx87 twin — the Hilbert walk replayed as 16 chained CTEs GENERATED
    * by the same per-plane builder the Spark side stages
    * ([[graft.operators.HilbertCurve.sqlStages]]; xor/div spellings
    * aside, the expressions are byte-identical), over the DISTINCT
    * (x, y) grid points, joined back for the bucket witnesses (the
    * qx78 twin's shape). */
  val qx87: String = {
    val (ctes, last) = graft.operators.HilbertCurve.sqlStages(
      graft.operators.HilbertCurve.Order, "q", Seq("x", "y"))
    s"""WITH t AS (SELECT CAST(floor(l_extendedprice) AS BIGINT) % 65536 AS x,
       |                  l_orderkey % 65536 AS y FROM lineitem),
       |xy AS (SELECT DISTINCT x, y FROM t),
       |q AS (SELECT x, y, x AS hx, y AS hy, CAST(0 AS BIGINT) AS hd FROM xy),
       |$ctes,
       |j AS (SELECT t.x, t.y, w.hd AS hv
       |      FROM t JOIN $last w USING (x, y))
       |SELECT hv >> 24 AS bucket, CAST(count(*) AS BIGINT) AS cnt,
       |       CAST(sum(hv) AS BIGINT) AS sum_h,
       |       CAST(min(x) AS BIGINT) AS min_x, CAST(max(x) AS BIGINT) AS max_x,
       |       CAST(min(y) AS BIGINT) AS min_y, CAST(max(y) AS BIGINT) AS max_y
       |FROM j GROUP BY 1""".stripMargin
  }

  /** The qx88 allocation chain as a reusable CTE block (qx89 schedules
    * on top of it): ends at `k`, whose alloc expression is repeated in
    * both consumers below. */
  /** The waterfill arithmetic alone, expecting an upstream
    * `lt(lang, avail)` CTE — factored (round 13) so qx116 can run the
    * SAME allocator over community units. */
  private val UNIMAX_TAIL: String =
    """c AS (SELECT lang, avail, avail * 1 AS cap,
      |             sum(avail) OVER () AS tot,
      |             CAST(count(*) OVER () AS BIGINT) AS nlang,
      |             CAST(row_number() OVER (ORDER BY avail * 1, lang) AS BIGINT) AS i,
      |             COALESCE(sum(avail * 1) OVER (ORDER BY avail * 1, lang
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s_prev
      |      FROM lt),
      |f AS (SELECT *, tot * 4 // 5 AS budget,
      |             CASE WHEN cap * (nlang - i + 1) <= tot * 4 // 5 - s_prev
      |                  THEN 1 ELSE 0 END AS capped_raw
      |      FROM c),
      |g AS (SELECT *, CASE WHEN sum(1 - capped_raw) OVER (ORDER BY cap, lang
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 0
      |             THEN 1 ELSE 0 END AS capped
      |      FROM f),
      |h AS (SELECT *, sum(capped) OVER () AS t,
      |             COALESCE(sum(CASE WHEN capped = 1 THEN cap END) OVER (), 0) AS s_t
      |      FROM g),
      |k AS (SELECT *, nlang - t AS n_free,
      |             CASE WHEN nlang - t > 0 THEN (budget - s_t) // (nlang - t) ELSE 0 END AS share,
      |             CASE WHEN nlang - t > 0 THEN (budget - s_t) % (nlang - t) ELSE 0 END AS rem
      |      FROM h)""".stripMargin

  private val UNIMAX_CHAIN: String =
    """lt AS (SELECT lang,
      |              CAST(sum(len(list_filter(string_split(text, ' '), w -> length(w) > 0))) AS BIGINT) AS avail
      |            FROM documents GROUP BY lang),
      |""".stripMargin + UNIMAX_TAIL

  /** qx88 twin — the UniMax waterfill replayed window-for-window: the
    * same (cap, lang) sort, the same monotone capped-prefix pin, the
    * same floor-share + remainder-to-first integer split. */
  val qx88: String =
    s"""WITH $UNIMAX_CHAIN
       |SELECT lang, avail, CAST(cap AS BIGINT) AS cap,
       |       CAST(CASE WHEN capped = 1 THEN cap
       |                 ELSE share + CASE WHEN i - t <= rem THEN 1 ELSE 0 END END AS BIGINT) AS alloc,
       |       CAST((CASE WHEN capped = 1 THEN cap
       |                  ELSE share + CASE WHEN i - t <= rem THEN 1 ELSE 0 END END) * 1000000 // avail AS BIGINT) AS epochs_micro
       |FROM k""".stripMargin

  /** qx89 twin — the mixture schedule by its DEFINITION: the same
    * unique stride deadlines, but positions from an ORDER BY d window
    * rank (the formulation the engine's closed form must equal — a
    * cross-validating oracle, not a replay), then the same per-language
    * audit fold. */
  /** The stride-schedule + audit tail, expecting the waterfill's `k`
    * upstream (factored round 13; `sl` was `l2` before the LPA chain's
    * round CTEs made that name collide). Ends at `gp` — consumers
    * write their own final SELECT so qx116 can cast lang back to a
    * community id. */
  private val MIX_TAIL: String =
    s"""al AS (SELECT lang,
       |         CAST(CASE WHEN capped = 1 THEN cap
       |              ELSE share + CASE WHEN i - t <= rem THEN 1 ELSE 0 END END AS BIGINT) AS alloc
       |       FROM k),
       |sl AS (SELECT lang, alloc,
       |         CAST(row_number() OVER (ORDER BY lang) AS BIGINT) - 1 AS idx,
       |         CAST(count(*) OVER () AS BIGINT) AS ll,
       |         CAST(sum(alloc) OVER () AS BIGINT) AS bb
       |       FROM al WHERE alloc > 0),
       |tok AS (SELECT lang, alloc, idx, ll, bb, CAST(j AS BIGINT) AS j
       |        FROM sl, unnest(range(1, alloc + 1)) tj(j)),
       |dd AS (SELECT lang, j, (j * bb // alloc) * ll + idx AS d FROM tok),
       |ps AS (SELECT lang, j, CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS pos FROM dd),
       |gp AS (SELECT lang, j, pos,
       |             pos - lag(pos) OVER (PARTITION BY lang ORDER BY j) AS gap
       |      FROM ps)""".stripMargin

  private val MIX_AUDIT_SELECT: String =
    s"""SELECT lang, CAST(count(*) AS BIGINT) AS n_slots,
       |       CAST(min(pos) AS BIGINT) AS first_pos,
       |       CAST(max(pos) AS BIGINT) AS last_pos,
       |       CAST(sum(pos) AS BIGINT) AS sum_pos,
       |       CAST(max(gap) AS BIGINT) AS max_gap,
       |       CAST(min(gap) AS BIGINT) AS min_gap
       |FROM gp GROUP BY lang""".stripMargin

  val qx89: String =
    s"""WITH $UNIMAX_CHAIN,
       |$MIX_TAIL
       |$MIX_AUDIT_SELECT""".stripMargin

  /** qx86 twin — posting lists rebuilt by ordered list() aggregation,
    * the same first-docid+1 / gap delta codes, the same Horner checksum
    * and ⌈bits/7⌉ varint size (`//` for Spark's `div`). */
  val qx86: String =
    s"""WITH d AS (SELECT doc_id,
       |             list_filter(string_split(text, ' '), w -> length(w) > 0) AS ws
       |           FROM documents),
       |e AS (SELECT doc_id, unnest(ws) AS term FROM d),
       |tf AS (SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf FROM e GROUP BY 1, 2),
       |p AS (SELECT term, CAST(count(*) AS BIGINT) AS df, CAST(sum(tf) AS BIGINT) AS cf,
       |             list(doc_id ORDER BY doc_id) AS ds
       |      FROM tf GROUP BY term),
       |g AS (SELECT term, df, cf, ds,
       |        list_transform(range(1, len(ds) + 1),
       |          j -> CASE WHEN j = 1 THEN ds[1] + 1 ELSE ds[j] - ds[j - 1] END) AS gaps
       |      FROM p)
       |SELECT term, df, cf, CAST(ds[1] AS BIGINT) AS first_doc,
       |       CAST(list_reduce([CAST(0 AS BIGINT)] || gaps,
       |              (a, g2) -> (a * 1009 + g2) % $P) AS BIGINT) AS gap_checksum,
       |       CAST(list_reduce([CAST(0 AS BIGINT)] || gaps,
       |              (a, g2) -> a + (length(bin(g2)) + 6) // 7) AS BIGINT) AS varint_bytes
       |FROM g""".stripMargin

  /** qx98 twin — MMR greedy rerank replayed step for step (the qx96
    * generated-CTE discipline): the qx2 scored pool cut to top-m, the
    * m² per-query pairwise cosines from the same exact-integer vectors,
    * step 1 = plain top-1 at λ·rel, then each greedy step t as a CTE
    * triple (remaining ∖ selected, max-sim penalty against the
    * selected set, argmax of (0.7·rel) − (0.3·pen) under the shared
    * (mmr DESC, vec_id ASC) order). λ literals are written `0.7e0` /
    * `0.3e0` so DuckDB parses DOUBLE, not DECIMAL — the identical IEEE
    * multiply Spark's `lit(0.7)` performs. */
  val qx98: String = mmrOracle(
    s"""WITH $EMB,
       |scored AS (
       |  SELECT q.qid, n.vec_id,
       |         CAST(CAST(list_sum(list_transform(range(1, len(v) + 1), i -> v[i] * qv[i])) AS BIGINT) AS DOUBLE)
       |           / (sqrt(CAST(n2 AS DOUBLE)) * sqrt(CAST(qn2 AS DOUBLE))) AS cosine
       |  FROM n CROSS JOIN q WHERE n.vec_id <> q.qid)""".stripMargin)

  /** qx98b twin — the same greedy over the LSH-bucketed pool: qx3's
    * candidate CTEs feed the shared MMR builder, so the indexed
    * retrieval AND the rerank are hash-pinned in one statement. */
  val qx98b: String = mmrOracle(
    s"""WITH $EMB,
       |$LSH,
       |qsig AS (SELECT vec_id AS qid, band, sig FROM sig WHERE vec_id % 50 = 0),
       |lcand AS (SELECT DISTINCT s.vec_id, qs.qid
       |          FROM sig s JOIN qsig qs ON s.band = qs.band AND s.sig = qs.sig
       |          WHERE s.vec_id <> qs.qid),
       |scored AS (
       |  SELECT lcand.qid, lcand.vec_id,
       |         CAST(CAST(list_sum(list_transform(range(1, len(nn.v) + 1), i -> nn.v[i] * q.qv[i])) AS BIGINT) AS DOUBLE)
       |           / (sqrt(CAST(nn.n2 AS DOUBLE)) * sqrt(CAST(q.qn2 AS DOUBLE))) AS cosine
       |  FROM lcand JOIN n nn ON nn.vec_id = lcand.vec_id
       |             JOIN q ON q.qid = lcand.qid)""".stripMargin)

  /** The shared MMR-steps builder: `prefix` supplies CTEs ending in
    * `scored(qid, vec_id, cosine)`; this appends the top-m pool cut,
    * the m² pairwise cosines, and the greedy step CTEs. */
  private def mmrOracle(prefix: String): String = {
    val m = graft.queries.ExtQueries.MmrM
    val k = graft.queries.ExtQueries.MmrK
    val sb = new StringBuilder
    sb ++= prefix
    sb ++= s""",
              |cand AS (SELECT qid, vec_id, cosine
              |         FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id ASC) AS rk
              |               FROM scored) t
              |         WHERE rk <= $m),
              |pairs AS (
              |  SELECT c1.qid, c1.vec_id AS va, c2.vec_id AS vb,
              |         CAST(CAST(list_sum(list_transform(range(1, len(na.v) + 1), i -> na.v[i] * nb.v[i])) AS BIGINT) AS DOUBLE)
              |           / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) AS sim
              |  FROM cand c1 JOIN cand c2 ON c1.qid = c2.qid AND c1.vec_id <> c2.vec_id
              |  JOIN n na ON na.vec_id = c1.vec_id JOIN n nb ON nb.vec_id = c2.vec_id),
              |sel1 AS (SELECT qid, 1 AS step, vec_id, 0.7e0 * cosine AS mmr
              |         FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id ASC) AS rk
              |               FROM cand) t
              |         WHERE rk = 1)""".stripMargin
    for (t <- 2 to k) {
      val selPrev = s"sel${t - 1}"
      sb ++= s""",
                |pen$t AS (SELECT r.qid, r.vec_id, r.cosine, max(p.sim) AS pen
                |        FROM cand r
                |        JOIN pairs p ON p.qid = r.qid AND p.va = r.vec_id
                |        JOIN $selPrev s ON s.qid = p.qid AND s.vec_id = p.vb
                |        WHERE NOT EXISTS (SELECT 1 FROM $selPrev z
                |                          WHERE z.qid = r.qid AND z.vec_id = r.vec_id)
                |        GROUP BY r.qid, r.vec_id, r.cosine),
                |pick$t AS (SELECT qid, $t AS step, vec_id, mmr
                |         FROM (SELECT qid, vec_id,
                |                      (0.7e0 * cosine) - (0.3e0 * pen) AS mmr
                |               FROM pen$t) u
                |         QUALIFY row_number() OVER (PARTITION BY qid ORDER BY mmr DESC, vec_id ASC) = 1),
                |sel$t AS (SELECT * FROM $selPrev UNION ALL SELECT * FROM pick$t)""".stripMargin
    }
    sb ++= s"""
              |SELECT qid, step, vec_id, mmr FROM sel$k""".stripMargin
    sb.result()
  }

  /** qx99 twin — the OPQ snake layout replayed in closed form: per-dim
    * exact iv3-energies over the corpus, the (energy DESC, d ASC) rank,
    * the boustrophedon group/slot arithmetic, and both layouts'
    * per-group energy windows (explicit BIGINT casts — DuckDB sums
    * BIGINT into HUGEINT). */
  val qx99: String =
    """WITH iv3 AS (SELECT vec_id,
      |         list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0 + 0.5) AS BIGINT)) AS v
      |       FROM embeddings),
      |en AS (SELECT CAST(i - 1 AS INTEGER) AS d, CAST(sum(v[i] * v[i]) AS BIGINT) AS energy
      |       FROM iv3, generate_series(1, 64) t(i) GROUP BY i),
      |rkd AS (SELECT d, energy,
      |          CAST(row_number() OVER (ORDER BY energy DESC, d ASC) - 1 AS INTEGER) AS rk
      |        FROM en),
      |sg AS (SELECT *, CAST(CASE WHEN (rk // 8) % 2 = 0 THEN rk % 8 ELSE 7 - rk % 8 END AS INTEGER) AS grp
      |       FROM rkd),
      |ps AS (SELECT *, CAST(row_number() OVER (PARTITION BY grp ORDER BY rk) - 1 AS INTEGER) AS pos
      |       FROM sg)
      |SELECT d, energy, rk, grp, pos, CAST(d // 8 AS INTEGER) AS gnat,
      |       CAST(sum(energy) OVER (PARTITION BY grp) AS BIGINT) AS grp_energy,
      |       CAST(sum(energy) OVER (PARTITION BY d // 8) AS BIGINT) AS nat_energy
      |FROM ps""".stripMargin

  /** qx100 twin — facility-location coreset selection replayed end to
    * end: KMEANS_ASSIGN's trained centroids and assignment, the
    * assigned-score cap to C per cell, the pairwise micro-sims
    * (self = 10⁹ exactly; the cosine spelling is qx2's, the micro
    * rounding floor(((1+cos)/2)·10⁹ + ½) in the engine's exact
    * parenthesization), then R greedy steps as generated CTE quadruples
    * (gains from the current coverage, argmax pick under
    * (gain DESC, i ASC), selected-union, coverage update). All gain
    * arithmetic in BIGINT so cross-row sums are order-free. `pr` is
    * MATERIALIZED, like `assign`: inlined into every step, the pairwise
    * sims outgrow a 16 GB host in DuckDB. */
  val qx100: String = {
    val c = graft.queries.ExtQueries.CoresetC
    val r = graft.queries.ExtQueries.CoresetR
    val sb = new StringBuilder
    sb ++= s"""WITH $KMEANS_ASSIGN,
              |scv AS (SELECT a.vec_id, a.cid, 2*f.dot - cf.cn2 AS sc
              |        FROM assign a
              |        JOIN adf f ON f.vec_id = a.vec_id AND f.cid = a.cid
              |        JOIN cnf cf ON cf.cid = a.cid),
              |cap AS (SELECT cid, vec_id FROM (
              |          SELECT cid, vec_id,
              |                 row_number() OVER (PARTITION BY cid ORDER BY sc DESC, vec_id ASC) AS rn
              |          FROM scv) t WHERE rn <= $c),
              |cvv AS (SELECT cap.cid, n.vec_id, n.v, n.n2 FROM cap JOIN n USING (vec_id)),
              |pr AS MATERIALIZED (SELECT a.cid, a.vec_id AS i, b.vec_id AS j,
              |         CASE WHEN a.vec_id = b.vec_id THEN CAST(1000000000 AS BIGINT)
              |              ELSE CAST(floor((1e0 + (
              |                CAST(CAST(list_sum(list_transform(range(1, len(a.v) + 1), x -> a.v[x] * b.v[x])) AS BIGINT) AS DOUBLE)
              |                  / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE)))
              |              )) / 2e0 * 1000000000e0 + 0.5e0) AS BIGINT) END AS simw
              |       FROM cvv a JOIN cvv b ON a.cid = b.cid),
              |cov0 AS (SELECT cid, vec_id AS j, CAST(0 AS BIGINT) AS cov FROM cap)""".stripMargin
    for (t <- 1 to r) {
      val notSel =
        if (t == 1) ""
        else s"""
                |        WHERE NOT EXISTS (SELECT 1 FROM sel${t - 1} z
                |                          WHERE z.cid = pr.cid AND z.vec_id = pr.i)""".stripMargin
      sb ++= s""",
                |g$t AS (SELECT pr.cid, pr.i, CAST(sum(greatest(simw - cov, 0)) AS BIGINT) AS gain
                |        FROM pr JOIN cov${t - 1} c ON pr.cid = c.cid AND pr.j = c.j$notSel
                |        GROUP BY pr.cid, pr.i),
                |p$t AS (SELECT cid, $t AS step, i AS vec_id, gain FROM g$t
                |        QUALIFY row_number() OVER (PARTITION BY cid ORDER BY gain DESC, i ASC) = 1),
                |sel$t AS (${if (t == 1) s"SELECT * FROM p1"
                            else s"SELECT * FROM sel${t - 1} UNION ALL SELECT * FROM p$t"}),
                |cov$t AS (SELECT c.cid, c.j, greatest(c.cov, pr.simw) AS cov
                |          FROM cov${t - 1} c JOIN p$t ON c.cid = p$t.cid
                |          JOIN pr ON pr.cid = c.cid AND pr.i = p$t.vec_id AND pr.j = c.j)""".stripMargin
    }
    sb ++= s"""
              |SELECT cid, step, vec_id, gain FROM sel$r""".stripMargin
    sb.result()
  }

  /** qx101/qx101b twins — the MaxSim kernel replayed relationally: both
    * 64-long vectors split into 4 contiguous 16-dim sub-vectors with
    * exact Long sub-norms; per (query-token, doc-token) the SAME
    * one-division cosine shape as the Spark kernel; the token max is a
    * plain aggregate (comparison-exact) and the outer sum repeats the
    * kernel's ascending-i order with explicit parens ((m0+m1)+m2)+m3. */
  private val MAXSIM_TAIL =
    """subn AS (SELECT vec_id, i, list_slice(v, i*16 + 1, i*16 + 16) AS s,
      |           CAST(list_sum(list_transform(list_slice(v, i*16 + 1, i*16 + 16),
      |                                        x -> x*x)) AS BIGINT) AS sn2
      |         FROM n, range(0, 4) t(i)),
      |qsub AS (SELECT vec_id AS qid, i AS qi, s AS qs, sn2 AS qsn2
      |         FROM subn WHERE vec_id % 50 = 0),
      |cos AS (SELECT cd.qid, cd.vec_id, qs.qi, d.i AS dj,
      |          CASE WHEN qs.qsn2 = 0 OR d.sn2 = 0 THEN 0.0
      |               ELSE CAST(CAST(list_sum(list_transform(range(1, 17),
      |                        k -> qs.qs[k] * d.s[k])) AS BIGINT) AS DOUBLE)
      |                    / (sqrt(CAST(qs.qsn2 AS DOUBLE)) * sqrt(CAST(d.sn2 AS DOUBLE))) END AS cv
      |        FROM cand cd
      |        JOIN subn d ON d.vec_id = cd.vec_id
      |        JOIN qsub qs ON qs.qid = cd.qid),
      |mxt AS (SELECT qid, vec_id, qi, max(cv) AS m FROM cos GROUP BY qid, vec_id, qi),
      |scm AS (SELECT qid, vec_id,
      |          ((max(CASE WHEN qi = 0 THEN m END) + max(CASE WHEN qi = 1 THEN m END))
      |            + max(CASE WHEN qi = 2 THEN m END)) + max(CASE WHEN qi = 3 THEN m END) AS maxsim
      |        FROM mxt GROUP BY qid, vec_id)
      |SELECT qid, rk, vec_id, maxsim
      |FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY maxsim DESC, vec_id ASC) AS rk
      |      FROM scm) t
      |WHERE rk <= 5""".stripMargin

  val qx101: String =
    s"""WITH $EMB,
       |cand AS (SELECT n.vec_id, q.qid FROM n CROSS JOIN q WHERE n.vec_id <> q.qid),
       |$MAXSIM_TAIL""".stripMargin

  val qx101b: String =
    s"""WITH $EMB,
       |$LSH,
       |qsig AS (SELECT vec_id AS qid, band, sig FROM sig WHERE vec_id % 50 = 0),
       |cand AS (SELECT DISTINCT s.vec_id, qs.qid
       |         FROM sig s JOIN qsig qs ON s.band = qs.band AND s.sig = qs.sig
       |         WHERE s.vec_id <> qs.qid),
       |$MAXSIM_TAIL""".stripMargin

  /** qx103 twin — all five full-batch GD rounds replayed as generated
    * CTEs: the same milli features and Gopher label as the Spark side,
    * the same exact-Long margin / rational fast-sigmoid / milli residual
    * shapes, weights threaded round-to-round as one-row CTEs, and the
    * integer floor-division update spelled (g − pmod(g, 2n)) / 2n. */
  /** The qx103 GD chain as a WITH-body fragment ending in the scored
    * doc table `sc(source, y, score_milli)` — shared with qx114's
    * calibration audit so both rows replay ONE training spelling. */
  private lazy val LOGISTIC_CHAIN: String = {
    val dims = 5
    def zExpr(wa: String) =
      s"CAST(${(0 until dims).map(j => s"$wa.w$j * f.x$j").mkString(" + ")} AS DOUBLE) / 1000000000.0"
    val sb = new StringBuilder
    sb ++= s"""d AS (SELECT doc_id, source, text,
              |             list_filter(string_split(text, ' '), w -> length(w) > 0) AS ws
              |           FROM documents),
              |s AS (SELECT doc_id, source,
              |        CAST(len(ws) AS BIGINT) AS n_words,
              |        CAST(list_sum([CAST(0 AS BIGINT)] || list_transform(ws, w -> CAST(length(w) AS BIGINT))) AS BIGINT) AS sum_wc,
              |        CAST(len(list_filter(ws, w -> w IN ('the', 'a'))) AS BIGINT) AS n_stop,
              |        CAST(len(list_filter(ws, w -> length(translate(w, 'abcdefghijklmnopqrstuvwxyz', '')) < length(w))) AS BIGINT) AS n_alpha,
              |        CAST(length(text) - length(replace(text, '#', '')) AS BIGINT)
              |          + CAST((length(text) - length(replace(text, '...', ''))) // 3 AS BIGINT) AS n_sym,
              |        CAST(len(list_distinct(ws)) AS BIGINT) AS ndist
              |      FROM d),
              |feat AS (SELECT doc_id, source,
              |           CASE WHEN n_words BETWEEN 50 AND 100000
              |                 AND 3 * n_words <= sum_wc AND sum_wc <= 10 * n_words
              |                 AND 10 * n_sym <= n_words
              |                 AND 5 * n_alpha >= 4 * n_words
              |                 AND n_stop >= 2 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS y,
              |           CAST(1000 AS BIGINT) AS x0,
              |           least(n_words, 400) * 5 AS x1,
              |           (sum_wc * 125) // n_words AS x2,
              |           (n_stop * 1000) // n_words AS x3,
              |           (ndist * 1000) // n_words AS x4
              |         FROM s WHERE n_words > 0),
              |cnt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM feat),
              |w0 AS (SELECT ${(0 until dims).map(j => s"CAST(0 AS BIGINT) AS w$j").mkString(", ")})""".stripMargin
    for (t <- 1 to 5) {
      val fd = (0 until dims).map { j =>
        val g = s"g.g$j"
        s"w.w$j - ($g - (($g % (2 * c.n)) + (2 * c.n)) % (2 * c.n)) // (2 * c.n) AS w$j"
      }.mkString(", ")
      sb ++= s""",
                |r$t AS (SELECT f.*, CAST(floor(((0.5 + z / (2.0 * (1.0 + abs(z)))) - CAST(f.y AS DOUBLE)) * 1000.0 + 0.5) AS BIGINT) AS rq
                |        FROM (SELECT f.*, ${zExpr("w")} AS z FROM feat f CROSS JOIN w${t - 1} w) f),
                |g$t AS (SELECT ${(0 until dims).map(j => s"CAST(sum(rq * x$j) AS BIGINT) AS g$j").mkString(", ")} FROM r$t),
                |w$t AS (SELECT $fd FROM w${t - 1} w CROSS JOIN g$t g CROSS JOIN cnt c)""".stripMargin
    }
    sb ++= s"""
              |, sc AS MATERIALIZED (SELECT f.source, f.y,
              |           CAST(floor((0.5 + z / (2.0 * (1.0 + abs(z)))) * 1000.0 + 0.5) AS BIGINT) AS score_milli
              |         FROM (SELECT f.*, ${zExpr("w")} AS z FROM feat f CROSS JOIN w5 w) f)""".stripMargin
    sb.result()
  }

  val qx103: String = {
    val sb = new StringBuilder
    sb ++= s"""WITH $LOGISTIC_CHAIN,
              |agg AS (SELECT source AS grp,
              |          CAST(count(*) AS BIGINT) AS n_docs,
              |          CAST(sum(CASE WHEN score_milli >= 500 THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
              |          CAST(sum(CASE WHEN (CASE WHEN score_milli >= 500 THEN 1 ELSE 0 END) = y THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
              |          CAST(sum(score_milli) AS BIGINT) AS v
              |        FROM sc GROUP BY source)
              |SELECT grp, n_docs, n_keep, n_agree, v FROM agg""".stripMargin
    for (j <- 0 until 5) {
      sb ++= s"""
                |UNION ALL SELECT 'w$j', CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT), w$j FROM w5""".stripMargin
    }
    sb.result()
  }

  /** qx114 twin — the reliability table over the identical chain:
    * centi bins of the milli score, per-bin count / positive count /
    * score mass, and the integer calibration gap
    * |⌊10³·n₊/n⌋ − ⌊Σscore/n⌋|. */
  val qx114: String =
    s"""WITH $LOGISTIC_CHAIN
       |SELECT score_milli // 10 AS bin,
       |       CAST(count(*) AS BIGINT) AS n,
       |       CAST(sum(y) AS BIGINT) AS n_pos,
       |       CAST(sum(score_milli) AS BIGINT) AS sum_score,
       |       CAST(abs((1000 * sum(y)) // count(*) - sum(score_milli) // count(*)) AS BIGINT) AS gap_milli
       |FROM sc GROUP BY score_milli // 10""".stripMargin

  /** qx104 twin — the hard-EM round replayed end to end: the qx96 DP
    * chain GENERALIZED over its score source and generated twice —
    * round 0 under the closed seed formula, round 1 under the
    * re-scored table — with the E-step in between: chosen pieces
    * extracted from the round-0 BACKTRACK columns (one SELECT per
    * backtrack step), frequency-weighted counts, and the
    * Laplace-smoothed micro-probability M-step. Integer arithmetic
    * only; same maxLen error() guard as qx96. */
  val qx104: String = {
    val maxLen = 12; val maxPiece = 4
    def h(e: String): String =
      s"list_reduce([CAST(0 AS BIGINT)] || list_transform(string_split($e, ''), " +
        s"c -> CAST(ascii(c) AS BIGINT)), (a, b) -> (a*31 + b) % 1000003)"
    // One DP + backtrack chain; tables suffixed r$r, columns unsuffixed
    // (chains never join each other until the aliased seg CTEs).
    def dpChain(r: Int, legal: (Int, String) => String,
                scoreOf: (Int, String) => String): String = {
      val sb2 = new StringBuilder
      sb2 ++= s",\ns0r$r AS MATERIALIZED (SELECT word FROM words)"
      for (i <- 1 to maxLen) {
        val cands = (1 to math.min(maxPiece, i)).map { l =>
          val prev = if (i - l == 0) "CAST(0 AS BIGINT)" else s"pk${i - l} // 8"
          val piece = s"substr(word, $i - $l + 1, $l)"
          s"""CASE WHEN length(word) >= $i AND ${legal(l, piece)}
             |  THEN ($prev + ${scoreOf(l, piece)}) * 8 + $l END""".stripMargin
        }.mkString(",\n  ")
        sb2 ++= s""",
                   |s${i}r$r AS MATERIALIZED (SELECT *, greatest(
                   |  $cands) AS pk$i FROM s${i - 1}r$r)""".stripMargin
      }
      val pkAt = (v: String) =>
        s"CASE $v ${(1 to maxLen).map(i => s"WHEN $i THEN pk$i").mkString(" ")} END"
      sb2 ++= s""",
                 |t0r$r AS MATERIALIZED (SELECT *, length(word) AS pos0,
                 |       CAST(0 AS BIGINT) AS np0, CAST(0 AS BIGINT) AS cs0 FROM s${maxLen}r$r)""".stripMargin
      for (k <- 1 to maxLen) {
        sb2 ++= s""",
                   |u${k}r$r AS MATERIALIZED (SELECT *, CASE WHEN pos${k - 1} > 0
                   |  THEN CAST(${pkAt(s"pos${k - 1}")} % 8 AS INTEGER) END AS l$k FROM t${k - 1}r$r),
                   |t${k}r$r AS MATERIALIZED (SELECT *,
                   |  CASE WHEN pos${k - 1} > 0 THEN pos${k - 1} - l$k ELSE pos${k - 1} END AS pos$k,
                   |  CASE WHEN pos${k - 1} > 0 THEN np${k - 1} + 1 ELSE np${k - 1} END AS np$k,
                   |  CASE WHEN pos${k - 1} > 0
                   |    THEN (cs${k - 1} * 1009 + ${h(s"substr(word, pos${k - 1} - l$k + 1, l$k)")}) % 2147483647
                   |    ELSE cs${k - 1} END AS cs$k FROM u${k}r$r)""".stripMargin
      }
      sb2 ++= s""",
                 |segr$r AS (SELECT word,
                 |        CASE WHEN length(word) > $maxLen
                 |             THEN error('qx104 oracle: word "' || word || '" exceeds maxLen=$maxLen — regenerate the oracle stages with a larger bound')
                 |             ELSE np$maxLen END AS np$r,
                 |        ${pkAt("length(word)")} // 8 AS score$r,
                 |        cs$maxLen AS sig$r FROM t${maxLen}r$r)""".stripMargin
      sb2.result()
    }
    val sb = new StringBuilder
    sb ++= s"WITH $DOCS,\n"
    sb ++= """dw AS (SELECT doc_id, w AS word FROM docs, unnest(ws) t(w)),
             |wf AS MATERIALIZED (SELECT word, CAST(count(*) AS BIGINT) AS freq FROM dw GROUP BY word),
             |words AS MATERIALIZED (SELECT word FROM wf),
             |vp AS MATERIALIZED (SELECT piece FROM (
             |  SELECT DISTINCT word, substr(word, i, l) AS piece
             |  FROM words, unnest(range(2, 5)) tl(l),
             |       unnest(range(1, length(word) - l + 2)) tp(i))
             |  GROUP BY piece HAVING count(*) >= 3),
             |alpha AS MATERIALIZED (SELECT DISTINCT substr(word, i, 1) AS piece
             |          FROM words, unnest(range(1, length(word) + 1)) tp(i)),
             |pieces AS MATERIALIZED (SELECT piece FROM vp UNION SELECT piece FROM alpha)""".stripMargin
    // round 0: closed seed formula, vocab-gated for l >= 2
    sb ++= dpChain(0,
      legal = (l, p) => if (l == 1) "TRUE" else s"$p IN (SELECT piece FROM vp)",
      scoreOf = (l, p) => s"100*$l*$l + ${h(p)} % 50")
    // E-step: chosen pieces from the round-0 backtrack, freq-weighted
    sb ++= s""",
              |use0 AS (${(1 to maxLen).map(k =>
                s"SELECT word, substr(word, pos${k - 1} - l$k + 1, l$k) AS piece " +
                  s"FROM t${maxLen}r0 WHERE pos${k - 1} > 0").mkString("\n  UNION ALL ")}),
              |cnt AS MATERIALIZED (SELECT u.piece, CAST(sum(wf.freq) AS BIGINT) AS c
              |        FROM use0 u JOIN wf ON u.word = wf.word GROUP BY u.piece),
              |tot AS MATERIALIZED (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS total,
              |               (SELECT CAST(count(*) AS BIGINT) FROM pieces) AS nv FROM cnt),
              |sc1 AS MATERIALIZED (SELECT p.piece,
              |          100 * length(p.piece) * length(p.piece)
              |            + (1000000 * (coalesce(c.c, 0) + 1)) // (t.total + t.nv) AS s
              |        FROM pieces p LEFT JOIN cnt c ON p.piece = c.piece CROSS JOIN tot t)""".stripMargin
    // round 1: the refined score table drives legality AND score
    sb ++= dpChain(1,
      legal = (_, p) => s"$p IN (SELECT piece FROM pieces)",
      scoreOf = (_, p) => s"(SELECT s FROM sc1 WHERE sc1.piece = $p)")
    sb ++= s"""
              |SELECT dw.doc_id, CAST(count(*) AS BIGINT) AS n_words,
              |       CAST(sum(np0) AS BIGINT) AS n_tok_seed,
              |       CAST(sum(np1) AS BIGINT) AS n_tok_em,
              |       CAST(sum(score0) AS BIGINT) AS seed_score,
              |       CAST(sum(score1) AS BIGINT) AS em_score,
              |       CAST(sum(sig0) AS BIGINT) AS seed_sig,
              |       CAST(sum(sig1) AS BIGINT) AS em_sig
              |FROM dw JOIN segr0 ON dw.word = segr0.word
              |        JOIN segr1 ON dw.word = segr1.word
              |GROUP BY dw.doc_id""".stripMargin
    sb.result()
  }

  /** qx107 twin — the co-occurrence table replayed relationally:
    * ±2-window pairs from 1-based list indexing, symmetric union, the
    * same micro-ratio integer formula, per-word top-5 by
    * (ratio DESC, context ASC) — ASCII words, so string order agrees
    * byte-for-byte across engines. */
  val qx107: String =
    s"""WITH $DOCS,
       |pr AS (SELECT ws[i] AS w, ws[i + d] AS c
       |       FROM docs, unnest(range(1, len(ws) + 1)) ti(i), unnest([1, 2]) td(d)
       |       WHERE i + d <= len(ws)),
       |sym AS (SELECT w, c FROM pr UNION ALL SELECT c AS w, w AS c FROM pr),
       |cc AS MATERIALIZED (SELECT w, c, CAST(count(*) AS BIGINT) AS cnt
       |      FROM sym GROUP BY w, c),
       |mw AS MATERIALIZED (SELECT w, CAST(sum(cnt) AS BIGINT) AS cw FROM cc GROUP BY w),
       |tt AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM cc),
       |scored AS (SELECT cc.w, cc.c, cc.cnt,
       |             (1000000 * cc.cnt * tt.t) // (mw.cw * mc.cw) AS ratio_micro
       |           FROM cc JOIN mw ON cc.w = mw.w
       |                   JOIN mw mc ON cc.c = mc.w
       |                   CROSS JOIN tt)
       |SELECT w, rk, c AS ctx, cnt, ratio_micro
       |FROM (SELECT *, CAST(row_number() OVER (PARTITION BY w
       |        ORDER BY ratio_micro DESC, c ASC) AS BIGINT) AS rk FROM scored) z
       |WHERE rk <= 5""".stripMargin

  /** qx109 twin — k-NN-graph build + all three beam rounds replayed:
    * LSH candidates both orientations, per-node top-4 by exact cosine,
    * then per query the entry seed, three expand-score-cut rounds
    * (UNION dedup, QUALIFY top-4 by cosine DESC, vec_id ASC), and the
    * final self-excluded ranking. */
  /** The qx109 graph-ANN replay (build + 3 beam rounds), parameterized
    * (round 15) for reuse by the qx79c hybrid twin: `beam` is the beam
    * width / per-round cut / final cut, and `qCap` further restricts
    * the query-id slice (ANDed onto the `% 50 = 0` predicate at every
    * point a query enters — the signature CTE and the entry-point
    * fallback). */
  private def graphAnnSql(beam: Int, qCap: Option[Long]): String = {
    val qExtraV = qCap.map(c => s" AND vec_id < $c").getOrElse("")
    val qExtraQQ = qCap.map(c => s" WHERE qq.qid < $c").getOrElse("")
    def cosQ(vtab: String) =
      s"""CAST(CAST(list_sum(list_transform(range(1, len($vtab.v) + 1),
         |     i -> $vtab.v[i] * qq.qv[i])) AS BIGINT) AS DOUBLE)
         |  / (sqrt(CAST($vtab.n2 AS DOUBLE)) * sqrt(CAST(qq.qn2 AS DOUBLE)))""".stripMargin
    val sb = new StringBuilder
    sb ++= s"""WITH $EMB,
              |$LSH,
              |cand AS (SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
              |         FROM sig x JOIN sig y ON x.band = y.band AND x.sig = y.sig
              |         WHERE x.vec_id < y.vec_id),
              |und AS (SELECT vec_a AS u, vec_b AS v FROM cand
              |        UNION ALL SELECT vec_b, vec_a FROM cand),
              |gsc AS (SELECT und.u, und.v,
              |          CAST(CAST(list_sum(list_transform(range(1, len(a.v) + 1),
              |               i -> a.v[i] * b.v[i])) AS BIGINT) AS DOUBLE)
              |            / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))) AS gcos
              |        FROM und JOIN n a ON und.u = a.vec_id JOIN n b ON und.v = b.vec_id),
              |g AS MATERIALIZED (SELECT u, v FROM gsc
              |     QUALIFY row_number() OVER (PARTITION BY u ORDER BY gcos DESC, v ASC) <= 4),
              |ent AS (SELECT min(vec_id) AS e FROM embeddings),
              |qsig AS (SELECT vec_id AS qid, band, sig FROM sig
              |         WHERE vec_id % 50 = 0$qExtraV),
              |seedc AS (SELECT DISTINCT s.vec_id, qs.qid
              |          FROM sig s JOIN qsig qs ON s.band = qs.band AND s.sig = qs.sig
              |          WHERE s.vec_id <> qs.qid),
              |seeds AS (SELECT qid, vec_id FROM seedc
              |          UNION SELECT qq.qid, ent.e FROM q qq CROSS JOIN ent$qExtraQQ),
              |sc0 AS (SELECT sd.qid, sd.vec_id, ${cosQ("n")} AS cosine
              |        FROM seeds sd JOIN n ON sd.vec_id = n.vec_id
              |                      JOIN q qq ON sd.qid = qq.qid),
              |b0 AS MATERIALIZED (SELECT qid, vec_id, cosine FROM sc0
              |      QUALIFY row_number() OVER (PARTITION BY qid
              |        ORDER BY cosine DESC, vec_id ASC) <= $beam)""".stripMargin
    for (r <- 1 to 3) {
      sb ++= s""",
                |ex$r AS (SELECT b.qid, g.v AS vec_id FROM b${r - 1} b JOIN g ON b.vec_id = g.u
                |         UNION SELECT qid, vec_id FROM b${r - 1}),
                |sc$r AS (SELECT ex.qid, ex.vec_id, ${cosQ("n")} AS cosine
                |         FROM ex$r ex JOIN n ON ex.vec_id = n.vec_id
                |                      JOIN q qq ON ex.qid = qq.qid),
                |b$r AS MATERIALIZED (SELECT qid, vec_id, cosine FROM sc$r
                |      QUALIFY row_number() OVER (PARTITION BY qid
                |        ORDER BY cosine DESC, vec_id ASC) <= $beam)""".stripMargin
    }
    sb ++= s"""
              |SELECT qid, rk, vec_id, cosine
              |FROM (SELECT qid, vec_id, cosine,
              |        CAST(row_number() OVER (PARTITION BY qid
              |          ORDER BY cosine DESC, vec_id ASC) AS BIGINT) AS rk
              |      FROM b3 WHERE vec_id <> qid) z
              |WHERE rk <= $beam""".stripMargin
    sb.result()
  }

  val qx109: String = graphAnnSql(4, None)

  /** qx79c twin — the dense leg is the FULL qx109 graph-ANN replay
    * (LSH candidate build + all three beam rounds) at beam 20 on
    * qx79's capped query slice; the lexical and fusion SQL is the
    * SHARED suffix, so only the dense family differs from
    * qx79/qx79b. */
  val qx79c: String =
    s"""WITH dt AS (
       |${graphAnnSql(20, Some(5000L))}
       |),
       |drk AS (SELECT qid, vec_id AS doc_id, CAST(rk AS BIGINT) AS dense_rk FROM dt),
       |""".stripMargin + HYBRID_LEX_FUSION

  /** qx125 twin — the fused-retrieval recall ledger: the qx79 (brute
    * fusion), qx79b (IVFADC fusion) and qx79c (graph fusion) twins
    * nested verbatim, the two served families folded against the
    * brute fused top-10 under the qx118 arithmetic at k = 10. */
  val qx125: String =
    s"""WITH fb AS MATERIALIZED (
       |$qx79
       |),
       |h1 AS MATERIALIZED (
       |$qx79b
       |),
       |h2 AS MATERIALIZED (
       |$qx79c
       |),
       |srv AS (SELECT 'ivfadc' AS family, qid, doc_id FROM h1
       |        UNION ALL SELECT 'graph', qid, doc_id FROM h2),
       |fams AS (SELECT unnest(['ivfadc', 'graph']) AS family),
       |pq AS (SELECT fams.family, b.qid, CAST(coalesce(o.h, 0) AS BIGINT) AS h
       |       FROM fams CROSS JOIN (SELECT DISTINCT qid FROM fb) b
       |       LEFT JOIN (SELECT srv.family, fb.qid, count(*) AS h
       |                  FROM fb JOIN srv ON fb.qid = srv.qid AND fb.doc_id = srv.doc_id
       |                  GROUP BY srv.family, fb.qid) o
       |         ON fams.family = o.family AND b.qid = o.qid)
       |SELECT family, CAST(h AS BIGINT) AS hits,
       |       CAST(count(*) AS BIGINT) AS n_queries,
       |       CAST(0 AS BIGINT) AS recall_micro
       |FROM pq GROUP BY family, h
       |UNION ALL
       |SELECT family, CAST(-1 AS BIGINT), CAST(count(*) AS BIGINT),
       |       CAST(1000000 * sum(h) // (10 * count(*)) AS BIGINT)
       |FROM pq GROUP BY family""".stripMargin

  /** qx111 twin — the data card recomputed relationally: the qx84 rule
    * CTE for quality, a full-text Horner hash groupBy for recurrence,
    * (source, lang) folds for the language block. */
  val qx111: String =
    """WITH d AS (SELECT doc_id, source, lang, text, n_chars,
      |             list_filter(string_split(text, ' '), w -> length(w) > 0) AS ws
      |           FROM documents),
      |s AS (SELECT doc_id, source, lang, n_chars,
      |        CAST(len(ws) AS BIGINT) AS n_words,
      |        CAST(list_sum([CAST(0 AS BIGINT)] || list_transform(ws, w -> CAST(length(w) AS BIGINT))) AS BIGINT) AS sum_wc,
      |        CAST(len(list_filter(ws, w -> w IN ('the', 'a'))) AS BIGINT) AS n_stop,
      |        CAST(len(list_filter(ws, w -> length(translate(w, 'abcdefghijklmnopqrstuvwxyz', '')) < length(w))) AS BIGINT) AS n_alpha,
      |        CAST(length(text) - length(replace(text, '#', '')) AS BIGINT)
      |          + CAST((length(text) - length(replace(text, '...', ''))) // 3 AS BIGINT) AS n_sym,
      |        list_reduce([CAST(0 AS BIGINT)] ||
      |          list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT)),
      |          (a, b) -> (a*31 + b) % 1000003) AS th
      |      FROM d),
      |p AS (SELECT *, CASE WHEN n_words BETWEEN 50 AND 100000
      |             AND 3 * n_words <= sum_wc AND sum_wc <= 10 * n_words
      |             AND 10 * n_sym <= n_words
      |             AND 5 * n_alpha >= 4 * n_words
      |             AND n_stop >= 2 THEN 1 ELSE 0 END AS pass FROM s),
      |dh AS (SELECT th FROM p GROUP BY th HAVING count(*) >= 2),
      |dup AS (SELECT source, CAST(count(*) AS BIGINT) AS n_dup
      |        FROM p WHERE th IN (SELECT th FROM dh) GROUP BY source),
      |lg AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS cnt
      |       FROM p GROUP BY source, lang),
      |mj AS (SELECT source, lang AS major_lang, cnt AS major_cnt FROM lg
      |       QUALIFY row_number() OVER (PARTITION BY source
      |         ORDER BY cnt DESC, lang ASC) = 1),
      |nl AS (SELECT source, CAST(count(*) AS BIGINT) AS n_langs FROM lg GROUP BY source),
      |agg AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |          CAST(sum(n_words) AS BIGINT) AS n_tokens,
      |          CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |          CAST(sum(pass) AS BIGINT) AS n_pass
      |        FROM p GROUP BY source)
      |SELECT agg.source, n_docs, n_tokens, sum_chars, n_pass,
      |       CAST(coalesce(dup.n_dup, 0) AS BIGINT) AS n_dup,
      |       n_langs, major_lang, major_cnt
      |FROM agg LEFT JOIN dup ON agg.source = dup.source
      |         JOIN nl ON agg.source = nl.source
      |         JOIN mj ON agg.source = mj.source""".stripMargin

  /** qx113 twin — the cell-built graph replayed: KMEANS_ASSIGN, ALL
    * same-cell pairs, per-node top-4 by exact cosine, the qx110
    * degree/edge-signature fold. */
  val qx113: String =
    s"""WITH $KMEANS_ASSIGN,
       |asgm AS MATERIALIZED (SELECT vec_id, cid FROM assign),
       |prs AS (SELECT x.vec_id AS u, y.vec_id AS v
       |        FROM asgm x JOIN asgm y ON x.cid = y.cid AND x.vec_id <> y.vec_id),
       |gsc AS (SELECT prs.u, prs.v,
       |          CAST(CAST(list_sum(list_transform(range(1, len(a.v) + 1),
       |               i -> a.v[i] * b.v[i])) AS BIGINT) AS DOUBLE)
       |            / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))) AS gcos
       |        FROM prs JOIN n a ON prs.u = a.vec_id JOIN n b ON prs.v = b.vec_id),
       |g AS (SELECT u, v FROM gsc
       |      QUALIFY row_number() OVER (PARTITION BY u ORDER BY gcos DESC, v ASC) <= 4)
       |SELECT u, CAST(count(*) AS BIGINT) AS deg,
       |       CAST(sum((u * 1009 + v) % 2147483647) AS BIGINT) AS esig
       |FROM g GROUP BY u""".stripMargin

  /** qx110 twin — the FULL REBUILD over the union under the same
    * pinned plane schedule: union collision pairs, per-node top-4 by
    * exact cosine, per-node degree + order-free edge signature. The
    * hash equality against Spark's incremental admission IS the
    * rebuild-equivalence proof. */
  val qx110: String =
    s"""WITH $EMB,
       |$LSH,
       |cand AS (SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
       |         FROM sig x JOIN sig y ON x.band = y.band AND x.sig = y.sig
       |         WHERE x.vec_id < y.vec_id),
       |und AS (SELECT vec_a AS u, vec_b AS v FROM cand
       |        UNION ALL SELECT vec_b, vec_a FROM cand),
       |gsc AS (SELECT und.u, und.v,
       |          CAST(CAST(list_sum(list_transform(range(1, len(a.v) + 1),
       |               i -> a.v[i] * b.v[i])) AS BIGINT) AS DOUBLE)
       |            / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))) AS gcos
       |        FROM und JOIN n a ON und.u = a.vec_id JOIN n b ON und.v = b.vec_id),
       |g AS (SELECT u, v FROM gsc
       |      QUALIFY row_number() OVER (PARTITION BY u ORDER BY gcos DESC, v ASC) <= 4)
       |SELECT u, CAST(count(*) AS BIGINT) AS deg,
       |       CAST(sum((u * 1009 + v) % 2147483647) AS BIGINT) AS esig
       |FROM g GROUP BY u""".stripMargin

  /** qx126 twin — the cells-generator graph family replayed end to
    * end: the sampled-seed pick (the id-scramble TakeOrdered is ORDER
    * BY/LIMIT), two subspace-Lloyd steps per 32-dim half (the qx44
    * machinery seeded from data instead of the hashed family), the
    * trained-books L2 assignment → product cells, the per-cell split
    * factors, the sub-bucketed signature table, the same-sig k-NN
    * graph, each query's 2×2 probed cells expanded over their pinned
    * sub-buckets as seeds, and the three beam rounds — the
    * [[graphAnnSql]] chain under the cells candidate generator. */
  val qx126: String = {
    def cosQ(vtab: String) =
      s"""CAST(CAST(list_sum(list_transform(range(1, len($vtab.v) + 1),
         |     i -> $vtab.v[i] * qq.qv[i])) AS BIGINT) AS DOUBLE)
         |  / (sqrt(CAST($vtab.n2 AS DOUBLE)) * sqrt(CAST(qq.qn2 AS DOUBLE)))""".stripMargin
    val sb = new StringBuilder
    sb ++= s"""WITH $EMB,
       |params AS (SELECT count(*) AS n FROM embeddings),
       |kk AS (SELECT CAST(least(65536, greatest(4,
       |         1 << ((length(bin(greatest(n // 64, 2))) - 1 + 1) // 2))) AS BIGINT) AS k
       |       FROM params),
       |sd AS (SELECT vec_id, v, row_number() OVER (
       |         ORDER BY (vec_id * 1000003 + 12345) % $P ASC, vec_id ASC) AS r
       |       FROM n),
       |tc0 AS (SELECT r - 1 AS cid, d, v[d + 1] AS cval
       |        FROM sd, kk, generate_series(0, 63) t(d) WHERE r <= kk.k),
       |pdims AS MATERIALIZED (SELECT vec_id, i - 1 AS d, v[i] AS val FROM n, generate_series(1, 64) t(i)),
       |${subspaceLloydStep("t", "pdims", 32, "tc0", "tc1", 0)},
       |${subspaceLloydStep("t", "pdims", 32, "tc1", "tc2", 1)},
       |tcb AS MATERIALIZED (SELECT cid, d, cval FROM tc2),
       |tcnf AS MATERIALIZED (SELECT cid, d // 32 AS sub, sum(cval*cval) AS cn2 FROM tcb GROUP BY 1, 2),
       |tadf AS MATERIALIZED (SELECT vec_id, cid, d // 32 AS sub, sum(val * cval) AS dot
       |         FROM pdims JOIN tcb USING (d) GROUP BY 1, 2, 3),
       |tasf AS MATERIALIZED (SELECT vec_id, sub, cid FROM (
       |          SELECT a.vec_id, a.sub, a.cid,
       |                 row_number() OVER (PARTITION BY a.vec_id, a.sub
       |                   ORDER BY (2*dot - cn2) DESC, a.cid ASC) AS rn
       |          FROM tadf a JOIN tcnf c ON a.cid = c.cid AND a.sub = c.sub)
       |         WHERE rn = 1),
       |cells AS MATERIALIZED (SELECT a0.vec_id, a0.cid * kk.k + a1.cid AS cell
       |          FROM tasf a0, tasf a1, kk
       |          WHERE a0.vec_id = a1.vec_id AND a0.sub = 0 AND a1.sub = 1),
       |spl AS MATERIALIZED (SELECT cell,
       |         CAST(ceil(CAST(count(*) AS DOUBLE) / 64) AS BIGINT) AS splits
       |       FROM cells GROUP BY cell HAVING count(*) > 128),
       |sig AS MATERIALIZED (SELECT c.vec_id,
       |         c.cell * 1048576 + ((c.vec_id % $P) * 1000003 + 7) % coalesce(s.splits, 1) AS sig
       |       FROM cells c LEFT JOIN spl s ON c.cell = s.cell),
       |cand AS (SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
       |         FROM sig x JOIN sig y ON x.sig = y.sig
       |         WHERE x.vec_id < y.vec_id),
       |und AS (SELECT vec_a AS u, vec_b AS v FROM cand
       |        UNION ALL SELECT vec_b, vec_a FROM cand),
       |gsc AS (SELECT und.u, und.v,
       |          CAST(CAST(list_sum(list_transform(range(1, len(a.v) + 1),
       |               i -> a.v[i] * b.v[i])) AS BIGINT) AS DOUBLE)
       |            / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))) AS gcos
       |        FROM und JOIN n a ON und.u = a.vec_id JOIN n b ON und.v = b.vec_id),
       |g AS MATERIALIZED (SELECT u, v FROM gsc
       |     QUALIFY row_number() OVER (PARTITION BY u ORDER BY gcos DESC, v ASC) <= 4),
       |ent AS (SELECT min(vec_id) AS e FROM embeddings),
       |qad AS (SELECT qq.qid, c.cid, c.d // 32 AS sub, sum(qq.qv[c.d + 1] * c.cval) AS dot
       |        FROM q qq CROSS JOIN tcb c GROUP BY 1, 2, 3),
       |qpr AS MATERIALIZED (SELECT qid, sub, cid FROM (
       |         SELECT a.qid, a.sub, a.cid,
       |                row_number() OVER (PARTITION BY a.qid, a.sub
       |                  ORDER BY (2*dot - cn2) DESC, a.cid ASC) AS rn
       |         FROM qad a JOIN tcnf c ON a.cid = c.cid AND a.sub = c.sub)
       |        WHERE rn <= 2),
       |qcell AS (SELECT a0.qid, a0.cid * kk.k + a1.cid AS cell
       |          FROM qpr a0, qpr a1, kk
       |          WHERE a0.qid = a1.qid AND a0.sub = 0 AND a1.sub = 1),
       |qsig AS (SELECT qid, cell * 1048576 + unnest(range(0, sp)) AS qsig
       |         FROM (SELECT qc.qid, qc.cell, coalesce(spl.splits, 1) AS sp
       |               FROM qcell qc LEFT JOIN spl ON qc.cell = spl.cell)),
       |seedc AS (SELECT DISTINCT qs.qid, s.vec_id
       |          FROM sig s JOIN qsig qs ON s.sig = qs.qsig
       |          WHERE s.vec_id <> qs.qid),
       |seeds AS (SELECT qid, vec_id FROM seedc
       |          UNION SELECT qq.qid, ent.e FROM q qq CROSS JOIN ent),
       |sc0 AS (SELECT sd2.qid, sd2.vec_id, ${cosQ("n")} AS cosine
       |        FROM seeds sd2 JOIN n ON sd2.vec_id = n.vec_id
       |                       JOIN q qq ON sd2.qid = qq.qid),
       |b0 AS MATERIALIZED (SELECT qid, vec_id, cosine FROM sc0
       |      QUALIFY row_number() OVER (PARTITION BY qid
       |        ORDER BY cosine DESC, vec_id ASC) <= 4)""".stripMargin
    for (r <- 1 to 3) {
      sb ++= s""",
                |ex$r AS (SELECT b.qid, g.v AS vec_id FROM b${r - 1} b JOIN g ON b.vec_id = g.u
                |         UNION SELECT qid, vec_id FROM b${r - 1}),
                |sc$r AS (SELECT ex.qid, ex.vec_id, ${cosQ("n")} AS cosine
                |         FROM ex$r ex JOIN n ON ex.vec_id = n.vec_id
                |                      JOIN q qq ON ex.qid = qq.qid),
                |b$r AS MATERIALIZED (SELECT qid, vec_id, cosine FROM sc$r
                |      QUALIFY row_number() OVER (PARTITION BY qid
                |        ORDER BY cosine DESC, vec_id ASC) <= 4)""".stripMargin
    }
    sb ++= s"""
              |SELECT qid, rk, vec_id, cosine
              |FROM (SELECT qid, vec_id, cosine,
              |        CAST(row_number() OVER (PARTITION BY qid
              |          ORDER BY cosine DESC, vec_id ASC) AS BIGINT) AS rk
              |      FROM b3 WHERE vec_id <> qid) z
              |WHERE rk <= 4""".stripMargin
    sb.result()
  }

  /** qx108 twin — the four deterministic walk steps replayed as
    * generated CTEs: per step, a left join of the live frontier against
    * the edge list, the identical per-step integer hash, argmin via
    * QUALIFY (ties impossible — v is inside its own hash), dangling
    * stop via the NULL out-edge. */
  /** The qx108 walk chain as a WITH-body fragment ending in a combined
    * `wk(start, step, node, sig)` CTE — shared with qx112's skip-gram
    * fold so the two rows replay ONE walk spelling. */
  private val WALK_CHAIN: String = {
    val sb = new StringBuilder
    sb ++= """dom AS (SELECT DISTINCT doc_id % 40 AS u FROM documents),
             |ed AS MATERIALIZED (SELECT DISTINCT u, v FROM (
             |   SELECT doc_id % 40 AS u, (doc_id * 7 + 3) % 40 AS v FROM documents
             |   UNION ALL
             |   SELECT doc_id % 40, (doc_id * 13 + 11) % 40 FROM documents)
             |   WHERE u % 10 <> 7),
             |w0 AS (SELECT u AS start, CAST(0 AS BIGINT) AS step, u AS node,
             |              u AS sig, FALSE AS stopped FROM dom)""".stripMargin
    for (t <- 1 to 4) {
      sb ++= s""",
                |st$t AS (SELECT w.start, w.node, w.sig, e.v,
                |          CASE WHEN e.v IS NULL THEN NULL
                |               ELSE (w.node * 1000003 + ${t}*8191 + e.v * 97 + 13) % 2147483647 END AS h
                |        FROM w${t - 1} w LEFT JOIN ed e ON w.node = e.u
                |        WHERE NOT w.stopped),
                |w$t AS (SELECT start, CAST($t AS BIGINT) AS step,
                |         coalesce(v, node) AS node,
                |         (sig * 1009 + coalesce(v, node)) % 2147483647 AS sig,
                |         v IS NULL AS stopped
                |       FROM st$t
                |       QUALIFY row_number() OVER (PARTITION BY start ORDER BY h ASC, v ASC) = 1)""".stripMargin
    }
    sb ++= s""",
              |wk AS MATERIALIZED (SELECT start, step, node, sig FROM w0
              |${(1 to 4).map(t =>
                 s"  UNION ALL SELECT start, step, node, sig FROM w$t WHERE NOT stopped").mkString("\n")})""".stripMargin
    sb.result()
  }

  val qx108: String =
    s"""WITH $WALK_CHAIN
       |SELECT start, step, node, sig FROM wk""".stripMargin

  /** qx112 twin — the DeepWalk skip-gram fold over the identical walk
    * chain: window-1 pairs (both orientations) from consecutive walk
    * steps, then the qx107 micro-ratio fold with numeric contexts and
    * per-node top-3. */
  val qx112: String =
    s"""WITH $WALK_CHAIN,
       |pr AS (SELECT a.node AS w, b.node AS c
       |       FROM wk a JOIN wk b ON a.start = b.start AND b.step = a.step + 1),
       |sym AS (SELECT w, c FROM pr UNION ALL SELECT c AS w, w AS c FROM pr),
       |cc AS MATERIALIZED (SELECT w, c, CAST(count(*) AS BIGINT) AS cnt
       |      FROM sym GROUP BY w, c),
       |mw AS MATERIALIZED (SELECT w, CAST(sum(cnt) AS BIGINT) AS cw FROM cc GROUP BY w),
       |tt AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM cc),
       |scored AS (SELECT cc.w, cc.c, cc.cnt,
       |             (1000000 * cc.cnt * tt.t) // (mw.cw * mc.cw) AS ratio_micro
       |           FROM cc JOIN mw ON cc.w = mw.w
       |                   JOIN mw mc ON cc.c = mc.w
       |                   CROSS JOIN tt)
       |SELECT w, rk, c AS ctx, cnt, ratio_micro
       |FROM (SELECT *, CAST(row_number() OVER (PARTITION BY w
       |        ORDER BY ratio_micro DESC, c ASC) AS BIGINT) AS rk FROM scored) z
       |WHERE rk <= 3""".stripMargin

  /** qx102 twin — all four synchronous LPA rounds replayed as generated
    * CTEs over the identical LSH candidate graph: per round, neighbor
    * votes (both edge orientations) plus the self vote, mode label with
    * (count DESC, label ASC) ties via QUALIFY row_number. */
  /** The shared LPA chain (qx102/qx105): LSH candidate graph, both
    * orientations, four synchronous rounds ending at `l4`. The `cand`
    * and `l4` CTEs are MATERIALIZED — the modularity tail references
    * each several times. */
  private val LPA_CHAIN: String = {
    val sb = new StringBuilder
    sb ++= s"""$EMB,
              |$LSH,
              |cand AS MATERIALIZED (SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
              |         FROM sig x JOIN sig y ON x.band = y.band AND x.sig = y.sig
              |         WHERE x.vec_id < y.vec_id),
              |e AS (SELECT a AS u, b AS v FROM cand UNION ALL SELECT b, a FROM cand),
              |l0 AS (SELECT vec_id AS u, vec_id AS label FROM embeddings)""".stripMargin
    for (t <- 1 to 4) {
      val mat = if (t == 4) " MATERIALIZED" else ""
      sb ++= s""",
                |vt$t AS (SELECT e.u, l.label FROM e JOIN l${t - 1} l ON e.v = l.u
                |         UNION ALL SELECT u, label FROM l${t - 1}),
                |tt$t AS (SELECT u, label, count(*) AS c FROM vt$t GROUP BY u, label),
                |l$t AS$mat (SELECT u, label FROM tt$t
                |        QUALIFY row_number() OVER (PARTITION BY u ORDER BY c DESC, label ASC) = 1)""".stripMargin
    }
    sb.result()
  }

  val qx102: String =
    s"""WITH $LPA_CHAIN,
       |cs AS (SELECT label, count(*) AS csize FROM l4 GROUP BY label)
       |SELECT l4.u AS vec_id, l4.label AS community, cs.csize
       |FROM l4 JOIN cs ON l4.label = cs.label""".stripMargin

  /** qx105 twin — the modularity tail over the identical LPA chain:
    * per-community intra edges, degree mass, node count and the
    * integer-surrogate contribution (coverage micro minus the squared
    * MILLI-truncated degree fraction — same truncate-before-square
    * spelling as the Spark side). */
  val qx105: String =
    s"""WITH $LPA_CHAIN,
       |te AS MATERIALIZED (SELECT la.label AS ca, lb.label AS cb
       |      FROM cand JOIN l4 la ON cand.a = la.u JOIN l4 lb ON cand.b = lb.u),
       |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM cand),
       |dm AS (SELECT community, CAST(count(*) AS BIGINT) AS d_sum
       |       FROM (SELECT ca AS community FROM te UNION ALL SELECT cb FROM te)
       |       GROUP BY community),
       |ei AS (SELECT ca AS community, CAST(count(*) AS BIGINT) AS e_in
       |       FROM te WHERE ca = cb GROUP BY ca),
       |nn AS (SELECT label AS community, CAST(count(*) AS BIGINT) AS n_nodes
       |       FROM l4 GROUP BY label)
       |SELECT nn.community, nn.n_nodes,
       |       CAST(coalesce(ei.e_in, 0) AS BIGINT) AS e_in,
       |       CAST(coalesce(dm.d_sum, 0) AS BIGINT) AS d_sum,
       |       (1000000 * coalesce(ei.e_in, 0)) // mm.m AS cov_micro,
       |       (1000 * coalesce(dm.d_sum, 0)) // (2 * mm.m) AS deg_milli,
       |       (1000000 * coalesce(ei.e_in, 0)) // mm.m
       |         - ((1000 * coalesce(dm.d_sum, 0)) // (2 * mm.m))
       |           * ((1000 * coalesce(dm.d_sum, 0)) // (2 * mm.m)) AS q_micro
       |FROM nn LEFT JOIN ei ON nn.community = ei.community
       |        LEFT JOIN dm ON nn.community = dm.community
       |        CROSS JOIN mm""".stripMargin

  /** qx116 twin — the full composition replayed: the LPA chain's
    * final labeling joined to per-doc token counts, head-16/tail unit
    * fold, the SHARED waterfill tail over community units (community
    * ids as VARCHAR so cap ties break exactly like the Spark side's
    * string lang), and the SHARED schedule/audit tail with positions
    * from the cross-validating window sort. */
  val qx116: String =
    s"""WITH $LPA_CHAIN,
       |ctok AS (SELECT l4.label AS label,
       |           CAST(sum(len(list_filter(string_split(d.text, ' '), w -> length(w) > 0))) AS BIGINT) AS avail
       |         FROM l4 JOIN documents d ON l4.u = d.doc_id GROUP BY l4.label),
       |crk AS (SELECT *, CAST(row_number() OVER (ORDER BY avail DESC, label ASC) AS BIGINT) AS r
       |        FROM ctok),
       |lt AS (SELECT CAST(CASE WHEN r <= 16 THEN label ELSE -1 END AS VARCHAR) AS lang,
       |              CAST(sum(avail) AS BIGINT) AS avail
       |       FROM crk GROUP BY 1),
       |$UNIMAX_TAIL,
       |$MIX_TAIL
       |SELECT CAST(lang AS BIGINT) AS community, CAST(count(*) AS BIGINT) AS n_slots,
       |       CAST(min(pos) AS BIGINT) AS first_pos,
       |       CAST(max(pos) AS BIGINT) AS last_pos,
       |       CAST(sum(pos) AS BIGINT) AS sum_pos,
       |       CAST(max(gap) AS BIGINT) AS max_gap,
       |       CAST(min(gap) AS BIGINT) AS min_gap
       |FROM gp GROUP BY lang""".stripMargin

  /** qx118 twin — the recall audit over the qx2/qx3 twins nested
    * verbatim (the qx117 nesting discipline applied to serving
    * quality): per-query overlap of the two top-5 lists, ≤6-bucket
    * histogram + the −1 summary row with corpus recall micro. */
  val qx118: String =
    s"""WITH rb AS MATERIALIZED (
       |$qx2
       |),
       |rl AS MATERIALIZED (
       |$qx3
       |),
       |pq AS (SELECT b.qid, CAST(coalesce(o.h, 0) AS BIGINT) AS h
       |       FROM (SELECT DISTINCT qid FROM rb) b
       |       LEFT JOIN (SELECT rb.qid, count(*) AS h
       |                  FROM rb JOIN rl ON rb.qid = rl.qid AND rb.vec_id = rl.vec_id
       |                  GROUP BY rb.qid) o ON b.qid = o.qid)
       |SELECT CAST(h AS BIGINT) AS hits, CAST(count(*) AS BIGINT) AS n_queries,
       |       CAST(0 AS BIGINT) AS recall_micro
       |FROM pq GROUP BY h
       |UNION ALL
       |SELECT CAST(-1 AS BIGINT), CAST(count(*) AS BIGINT),
       |       CAST(1000000 * sum(h) // (5 * count(*)) AS BIGINT)
       |FROM pq""".stripMargin

  /** qx119 twin — shard-summable card columns: the same Horner text
    * hash as qx111, duplicate membership computed globally AND
    * per-parity-shard, folded per source. */
  val qx119: String =
    """WITH d AS (SELECT doc_id, source, doc_id % 2 AS shard,
      |             list_reduce([CAST(0 AS BIGINT)] ||
      |               list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT)),
      |               (a, b) -> (a*31 + b) % 1000003) AS th
      |           FROM documents),
      |gd AS (SELECT th FROM d GROUP BY th HAVING count(*) >= 2),
      |gl AS (SELECT source, CAST(count(*) AS BIGINT) AS n_dup_global
      |       FROM d WHERE th IN (SELECT th FROM gd) GROUP BY source),
      |sd AS (SELECT shard, th FROM d GROUP BY shard, th HAVING count(*) >= 2),
      |lo AS (SELECT source, CAST(count(*) AS BIGINT) AS n_dup_local
      |       FROM d JOIN sd USING (shard, th) GROUP BY source),
      |vol AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs_global FROM d GROUP BY source),
      |vf AS (SELECT source, CAST(sum(nd) AS BIGINT) AS n_docs_fold
      |       FROM (SELECT shard, source, count(*) AS nd FROM d GROUP BY shard, source)
      |       GROUP BY source)
      |SELECT vol.source, vf.n_docs_fold, vol.n_docs_global,
      |       CAST(coalesce(lo.n_dup_local, 0) AS BIGINT) AS n_dup_local,
      |       CAST(coalesce(gl.n_dup_global, 0) AS BIGINT) AS n_dup_global,
      |       CAST(coalesce(gl.n_dup_global, 0) - coalesce(lo.n_dup_local, 0) AS BIGINT) AS n_dup_cross
      |FROM vol JOIN vf ON vol.source = vf.source
      |         LEFT JOIN gl ON vol.source = gl.source
      |         LEFT JOIN lo ON vol.source = lo.source""".stripMargin

  /** qx120 twin — the dedup-family Venn over the qx4/qx14/qx12 twins
    * nested verbatim (MATERIALIZED — each feeds one full-outer join
    * chain), membership coalesced to 0/1 and folded to the ≤7 cells. */
  val qx120: String =
    s"""WITH vm AS MATERIALIZED (
       |$qx4
       |),
       |vs AS MATERIALIZED (
       |$qx14
       |),
       |ve AS MATERIALIZED (
       |$qx12
       |),
       |j1 AS (SELECT COALESCE(vm.doc_a, vs.doc_a) AS a,
       |              COALESCE(vm.doc_b, vs.doc_b) AS b,
       |              CASE WHEN vm.doc_a IS NOT NULL THEN 1 ELSE 0 END AS m,
       |              CASE WHEN vs.doc_a IS NOT NULL THEN 1 ELSE 0 END AS s
       |       FROM vm FULL OUTER JOIN vs
       |         ON vm.doc_a = vs.doc_a AND vm.doc_b = vs.doc_b),
       |j2 AS (SELECT COALESCE(j1.m, 0) AS m, COALESCE(j1.s, 0) AS s,
       |              CASE WHEN ve.vec_a IS NOT NULL THEN 1 ELSE 0 END AS e
       |       FROM j1 FULL OUTER JOIN ve
       |         ON j1.a = ve.vec_a AND j1.b = ve.vec_b)
       |SELECT CAST(m AS BIGINT) AS m, CAST(s AS BIGINT) AS s,
       |       CAST(e AS BIGINT) AS e, CAST(count(*) AS BIGINT) AS n_pairs
       |FROM j2 GROUP BY m, s, e""".stripMargin

  /** qx121 twin — graph-ANN recall@top1 over the qx2/qx109 twins
    * nested verbatim (the qx118 discipline for the graph family). */
  val qx121: String =
    s"""WITH gb AS MATERIALIZED (
       |$qx2
       |),
       |gg AS MATERIALIZED (
       |$qx109
       |),
       |b1 AS (SELECT qid, vec_id FROM gb WHERE rk = 1),
       |ht AS (SELECT DISTINCT b1.qid FROM b1
       |       JOIN gg ON b1.qid = gg.qid AND b1.vec_id = gg.vec_id),
       |pq AS (SELECT b1.qid,
       |              CASE WHEN ht.qid IS NOT NULL THEN 1 ELSE 0 END AS found
       |       FROM b1 LEFT JOIN ht ON b1.qid = ht.qid)
       |SELECT CAST(found AS BIGINT) AS found,
       |       CAST(count(*) AS BIGINT) AS n_queries,
       |       CAST(0 AS BIGINT) AS recall_micro
       |FROM pq GROUP BY found
       |UNION ALL
       |SELECT CAST(-1 AS BIGINT), CAST(count(*) AS BIGINT),
       |       CAST(1000000 * sum(found) // count(*) AS BIGINT)
       |FROM pq""".stripMargin

  /** qx122 twin — IVFADC recall@5 over the qx2/qx44 twins nested
    * verbatim (the qx118 fold applied to the serving family). */
  val qx122: String =
    s"""WITH rb AS MATERIALIZED (
       |$qx2
       |),
       |ra AS MATERIALIZED (
       |$qx44
       |),
       |pq AS (SELECT b.qid, CAST(coalesce(o.h, 0) AS BIGINT) AS h
       |       FROM (SELECT DISTINCT qid FROM rb) b
       |       LEFT JOIN (SELECT rb.qid, count(*) AS h
       |                  FROM rb JOIN ra ON rb.qid = ra.qid AND rb.vec_id = ra.vec_id
       |                  GROUP BY rb.qid) o ON b.qid = o.qid)
       |SELECT CAST(h AS BIGINT) AS hits, CAST(count(*) AS BIGINT) AS n_queries,
       |       CAST(0 AS BIGINT) AS recall_micro
       |FROM pq GROUP BY h
       |UNION ALL
       |SELECT CAST(-1 AS BIGINT), CAST(count(*) AS BIGINT),
       |       CAST(1000000 * sum(h) // (5 * count(*)) AS BIGINT)
       |FROM pq""".stripMargin

  /** qx123 twin — the coarse-family recall ledger: the qx13/qx15/qx16
    * twins nested verbatim, each folded per family against the qx2
    * brute twin under the qx118 arithmetic. */
  val qx123: String =
    s"""WITH rb AS MATERIALIZED (
       |$qx2
       |),
       |f1 AS MATERIALIZED (
       |$qx13
       |),
       |f2 AS MATERIALIZED (
       |$qx15
       |),
       |f3 AS MATERIALIZED (
       |$qx16
       |),
       |srv AS (SELECT 'ivf' AS family, qid, vec_id FROM f1
       |        UNION ALL SELECT 'imi', qid, vec_id FROM f2
       |        UNION ALL SELECT 'kmeans', qid, vec_id FROM f3),
       |fams AS (SELECT unnest(['ivf', 'imi', 'kmeans']) AS family),
       |pq AS (SELECT fams.family, b.qid, CAST(coalesce(o.h, 0) AS BIGINT) AS h
       |       FROM fams CROSS JOIN (SELECT DISTINCT qid FROM rb) b
       |       LEFT JOIN (SELECT srv.family, rb.qid, count(*) AS h
       |                  FROM rb JOIN srv ON rb.qid = srv.qid AND rb.vec_id = srv.vec_id
       |                  GROUP BY srv.family, rb.qid) o
       |         ON fams.family = o.family AND b.qid = o.qid)
       |SELECT family, CAST(h AS BIGINT) AS hits,
       |       CAST(count(*) AS BIGINT) AS n_queries,
       |       CAST(0 AS BIGINT) AS recall_micro
       |FROM pq GROUP BY family, h
       |UNION ALL
       |SELECT family, CAST(-1 AS BIGINT), CAST(count(*) AS BIGINT),
       |       CAST(1000000 * sum(h) // (5 * count(*)) AS BIGINT)
       |FROM pq GROUP BY family""".stripMargin

  /** qx117 twin — the release manifest melted from the four
    * constituent twins, each nested verbatim as a MATERIALIZED CTE
    * (the oracle-side mirror of the shared-spelling rule: the SQL
    * that pins qx111/qx114/qx115/qx45 is the SQL this row folds). */
  val qx117: String =
    s"""WITH rcard AS MATERIALIZED (
       |$qx111
       |),
       |rcal AS MATERIALIZED (
       |$qx114
       |),
       |rspl AS MATERIALIZED (
       |$qx115
       |),
       |rfin AS MATERIALIZED (
       |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(n_tokens) AS BIGINT) AS n_tokens
       |FROM (
       |$qx45
       |) q45 GROUP BY lang
       |)
       |SELECT 'card' AS section, source || '/docs' AS k, CAST(n_docs AS BIGINT) AS v FROM rcard
       |UNION ALL SELECT 'card', source || '/tokens', CAST(n_tokens AS BIGINT) FROM rcard
       |UNION ALL SELECT 'card', source || '/chars', CAST(sum_chars AS BIGINT) FROM rcard
       |UNION ALL SELECT 'card', source || '/quality_pass', CAST(n_pass AS BIGINT) FROM rcard
       |UNION ALL SELECT 'card', source || '/dups', CAST(n_dup AS BIGINT) FROM rcard
       |UNION ALL SELECT 'card', source || '/langs', CAST(n_langs AS BIGINT) FROM rcard
       |UNION ALL SELECT 'card', source || '/major:' || major_lang, CAST(major_cnt AS BIGINT) FROM rcard
       |UNION ALL SELECT 'calibration', 'bin:' || CAST(bin AS VARCHAR) || '/n', CAST(n AS BIGINT) FROM rcal
       |UNION ALL SELECT 'calibration', 'bin:' || CAST(bin AS VARCHAR) || '/gap_milli', CAST(gap_milli AS BIGINT) FROM rcal
       |UNION ALL SELECT 'splits', scheme || '/split:' || CAST(split AS VARCHAR) || '/docs', CAST(n_docs AS BIGINT) FROM rspl
       |UNION ALL SELECT 'splits', scheme || '/split:' || CAST(split AS VARCHAR) || '/clusters', CAST(n_clusters AS BIGINT) FROM rspl
       |UNION ALL SELECT 'final', lang || '/docs', CAST(n_docs AS BIGINT) FROM rfin
       |UNION ALL SELECT 'final', lang || '/tokens', CAST(n_tokens AS BIGINT) FROM rfin""".stripMargin
}
