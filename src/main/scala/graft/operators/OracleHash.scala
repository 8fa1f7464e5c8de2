package graft.operators

/** DuckDB SQL generators that replay the engine's integer-hash
  * arithmetic — the machinery that turns "rows-only" gate rows into
  * full value-for-value oracle rows.
  *
  * Every engine-side hash is deterministic integer arithmetic, so each
  * has an exact DuckDB twin built from HUGEINT mod-2^64 operations:
  *
  *  - xxHash64 (seed 42) over UTF-8 strings — Spark's `xxhash64`, the
  *    base of the MinHash signature (plans.MinHashSig) — emulated in
  *    full (stripe accumulators, tail words, 4-byte + byte tail,
  *    avalanche) via `list_reduce` folds ([[xxh64Rel]]).
  *  - xxHash64 (seed 42) over a BIGINT — Spark's `xxhash64(long)`, the
  *    PQ/IVF seed-selection order — the fixed 8-byte specialization
  *    ([[hashLongSelect]]).
  *  - FNV-1a 64 over token strings (Dedup.fnv64, the SimHash vote
  *    hash) — one `list_reduce` fold ([[fnvFoldExpr]]).
  *  - murmur3 fmix32 plane signs (plans.HyperplaneSig.planeSign, the
  *    hyperplane-LSH signature bit source) — 32-bit chain
  *    ([[planesCte]]).
  *
  * Byte derivation: xxHash64 inputs are the string's true UTF-8 bytes
  * (code points expanded by the UTF-8 encoding rules, byte length via
  * `strlen`), so multi-byte text hashes byte-for-byte like Spark's
  * UTF8String — the former `unicode()`-only derivation was exact only
  * on ASCII. The FNV fold intentionally keeps code-point units: the
  * engine's Dedup.fnv64 folds UTF-16 char codes, which equal code
  * points for all BMP text (divergent only on astral/surrogate-pair
  * chars, absent from this corpus).
  *
  * Multiplication wrap-around: DuckDB raises on BIGINT overflow rather
  * than wrapping, so (a·b) mod 2^64 with a < 2^64 and constant b splits
  * b into 32-bit halves — each partial product stays under 2^96,
  * comfortably inside HUGEINT ([[mulc]]).
  */
object OracleHash {

  val MM = "CAST('18446744073709551616' AS HUGEINT)" // 2^64

  /** Overflow-safe Knuth multiplicative hash (id · 2654435761) mod 2^32
    * — the engine's deterministic sampling hash (d33's split, n40's
    * sampler, n42's triplet shards). The naive product overflows a
    * 64-bit integer past id ~
    * 3.47e9: Spark wraps silently negative (every keep-predicate
    * passes), DuckDB raises — the engines would diverge exactly at the
    * id scale a 100 TB corpus reaches. Reduce mod 2^32 first and split
    * the reduced id into 16-bit halves so every partial product stays
    * under 2^49; bit-identical to the naive form wherever that form is
    * defined, well-defined for ANY non-negative id. `div` is the
    * integer-division token: "div" (Spark SQL) or "//" (DuckDB). */
  def knuth32(id: String, div: String): String =
    s"(((($id % 4294967296) $div 65536) * 2654435761) % 4294967296 " +
      s"* 65536 + ($id % 65536) * 2654435761) % 4294967296"
  def knuth32Sql(id: String): String = knuth32(id, "//")
  def knuth32Col(id: String): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.expr(knuth32(id, "div"))
  private val B64 = BigInt(1) << 64

  // xxHash64 primes
  private val P1 = BigInt("9E3779B185EBCA87", 16)
  private val P2 = BigInt("C2B2AE3D27D4EB4F", 16)
  private val P3 = BigInt("165667B19E3779F9", 16)
  private val P4 = BigInt("85EBCA77C2B2AE63", 16)
  private val P5 = BigInt("27D4EB2F165667C5", 16)

  private def hug(x: BigInt): String = s"CAST('$x' AS HUGEINT)"

  /** The UTF-8 byte list of string expression `s` — code points
    * expanded by the UTF-8 encoding rules (1–4 bytes each), validated
    * element-for-element against Python's `str.encode('utf-8')`. */
  private def utf8Bytes(s: String): String =
    s"flatten(list_transform(" +
      s"list_transform(generate_series(1, len($s)), i -> unicode(substr($s, i, 1))), " +
      "cp -> CASE " +
      "WHEN cp < 128 THEN [cp] " +
      "WHEN cp < 2048 THEN [192 + cp // 64, 128 + cp % 64] " +
      "WHEN cp < 65536 THEN [224 + cp // 4096, 128 + (cp // 64) % 64, 128 + cp % 64] " +
      "ELSE [240 + cp // 262144, 128 + (cp // 4096) % 64, 128 + (cp // 64) % 64, 128 + cp % 64] END))"

  private def xor64(p: String, q: String): String =
    s"CAST(xor(CAST(($p) AS UBIGINT), CAST(($q) AS UBIGINT)) AS HUGEINT)"

  private def shr(x: String, r: Int): String = s"(($x) // ${BigInt(1) << r})"

  private def rotl(x: String, r: Int): String =
    s"(((($x) * ${BigInt(1) << r}) % $MM + ($x) // ${BigInt(1) << (64 - r)}) % $MM)"

  /** (a · c) mod 2^64 for variable a < 2^64 and 64-bit constant c. */
  private def mulc(a: String, c: BigInt): String = {
    val hi = c >> 32
    val lo = c & BigInt("FFFFFFFF", 16)
    s"(((($a) * $lo) % $MM + (((($a) % 4294967296) * $hi) % 4294967296) * 4294967296) % $MM)"
  }

  /** One xxHash64 stripe round: rotl31(acc + lane·P2)·P1, mod 2^64. */
  private def rnd(a: String, l: String): String =
    mulc(rotl(s"((($a) + ${mulc(l, P2)}) % $MM)", 31), P1)

  /** round(0, v) — the merge/tail mixer. */
  private def rnd0(v: String): String = mulc(rotl(mulc(v, P2), 31), P1)

  private def mergeStep(a: String, v: String): String =
    s"((${mulc(xor64(a, rnd0(v)), P1)} + $P4) % $MM)"

  /** The final avalanche (fmix64) as chained SELECT stages over column
    * `in0`, leaving the unsigned result in column `u`. */
  private def avalancheStages(add: String => Unit): Unit = {
    add(s"${xor64("hb", shr("hb", 33))} AS a1")
    add(s"${mulc("a1", P2)} AS a2")
    add(s"${xor64("a2", shr("a2", 29))} AS a3")
    add(s"${mulc("a3", P3)} AS a4")
  }

  private val V1 = (42 + P1 + P2) % B64
  private val V2 = (42 + P2) % B64
  private val V3 = BigInt(42)
  private val V4 = (42 - P1) % B64 + (if (42 - P1 < 0) B64 else BigInt(0))

  /** A `(tok, base)` relation: `base = xxhash64(tok, seed 42) mod 2^31`
    * for every row of `src` (which must yield a string column `tok`) —
    * byte-for-byte Spark's `xxhash64` on ASCII input, folded exactly as
    * plans.MinHashSig folds it. */
  def xxh64Rel(src: String): String =
    s"SELECT tok, CAST(u % 2147483648 AS BIGINT) AS base FROM (${xxh64UnsignedRel(src)})"

  /** The xxHash64 pipeline over string column `tok`, yielding the
    * unsigned value in column `u`. */
  private def xxh64UnsignedRel(src: String): String = {
    val word = (0 until 8).map(t =>
      s"CAST(bs[(k-1)*8+${t + 1}] AS HUGEINT) * ${BigInt(1) << (8 * t)}").mkString("(", " + ", ")")
    val read32 = (0 until 4).map(t =>
      s"CAST(bs[nw*8+${t + 1}] AS HUGEINT) * ${BigInt(1) << (8 * t)}").mkString("(", " + ", ")")
    def vfold(i: Int): String = {
      val init = Seq(V1, V2, V3, V4)(i - 1)
      val lanes = s"list_transform(generate_series(0, ns-1), s -> ws[4*s+$i])"
      s"CASE WHEN n >= 32 THEN list_reduce(list_prepend(${hug(init)}, $lanes), " +
        s"(a, l) -> ${rnd("a", "l")}) END"
    }
    val rotlsum =
      s"((${rotl("v1", 1)} + ${rotl("v2", 7)} + ${rotl("v3", 12)} + ${rotl("v4", 18)}) % $MM)"
    val mchain =
      s"list_reduce(list_prepend($rotlsum, [v1, v2, v3, v4]), (a, v) -> ${mergeStep("a", "v")})"
    val twfold =
      s"CASE WHEN nw > 4*ns THEN list_reduce(list_prepend(h1, list_slice(ws, 4*ns+1, nw)), " +
        s"(a, w) -> ((${mulc(rotl(xor64("a", rnd0("w")), 27), P1)} + $P4) % $MM)) ELSE h1 END"
    val h2x = xor64("h2", s"(($read32) * ${hug(P1)}) % $MM")
    val h3 = s"CASE WHEN n % 8 >= 4 THEN (${mulc(rotl("h2x", 23), P2)} + $P3) % $MM ELSE h2 END"
    val btail = "list_slice(bs, nw*8 + (CASE WHEN n % 8 >= 4 THEN 4 ELSE 0 END) + 1, n)"
    val bstep = mulc(rotl(xor64("a", s"((CAST(b AS HUGEINT) * ${hug(P5)}) % $MM)"), 11), P1)
    val bfold =
      s"CASE WHEN n % 4 > 0 THEN list_reduce(list_prepend(h3f, $btail), (a, b) -> $bstep) ELSE h3f END"
    var inner =
      s"SELECT tok, strlen(tok) AS n, strlen(tok) // 8 AS nw, strlen(tok) // 32 AS ns, " +
        s"${utf8Bytes("tok")} AS bs " +
        s"FROM ($src)"
    def add(cols: String): Unit = inner = s"SELECT *, $cols FROM ($inner)"
    add(s"list_transform(generate_series(1, nw), k -> $word) AS ws")
    add(s"${vfold(1)} AS v1, ${vfold(2)} AS v2, ${vfold(3)} AS v3, ${vfold(4)} AS v4")
    add(s"((CASE WHEN n >= 32 THEN $mchain ELSE ${hug((42 + P5) % B64)} END) + n) % $MM AS h1")
    add(s"$twfold AS h2")
    add(s"$h2x AS h2x")
    add(s"$h3 AS h3f")
    add(s"$bfold AS hb")
    avalancheStages(add)
    s"SELECT tok, ${xor64("a4", shr("a4", 32))} AS u FROM ($inner)"
  }

  /** `SELECT *, <signed xxhash64(col)> AS hs FROM (src)` — Spark's
    * `xxhash64` over ONE BIGINT column (XXH64.hashLong: seed tail +
    * one 8-byte round + avalanche), emitted as a signed BIGINT so
    * ORDER BY hs matches the engine's signed sort. */
  def hashLongSelect(src: String, colName: String): String = {
    val h0 = (42 + P5 + 8) % B64
    // Normalize the operand into [0, 2^64): a negative BIGINT keeps its
    // sign through HUGEINT mulc/%, diverging from Spark's
    // two's-complement treatment of the 8 key bytes (latent today —
    // all doc/vec ids are non-negative — but cheap to make exact).
    val x = s"(((CAST($colName AS HUGEINT) % $MM) + $MM) % $MM)"
    var inner =
      s"SELECT *, ${xor64(hug(h0), rnd0(x))} AS hh1 FROM ($src)"
    def add(cols: String): Unit = inner = s"SELECT *, $cols FROM ($inner)"
    add(s"(${mulc(rotl("hh1", 27), P1)} + $P4) % $MM AS hb")
    avalancheStages(add)
    add(s"${xor64("a4", shr("a4", 32))} AS hu")
    s"SELECT *, CAST(CASE WHEN hu >= CAST('9223372036854775808' AS HUGEINT) " +
      s"THEN hu - $MM ELSE hu END AS BIGINT) AS hs FROM ($inner)"
  }

  /** FNV-1a 64 fold over string column/expression `tok` (Dedup.fnv64):
    * h = (h XOR unit) · prime, mod 2^64, one list_reduce pass. Yields
    * the UNSIGNED value as HUGEINT. The fold unit is the CODE POINT,
    * deliberately: the engine folds UTF-16 char codes (fnv64 uses
    * charAt), which equal code points for all BMP text — see the
    * object Scaladoc for the astral-char caveat. */
  def fnvFoldExpr(tok: String): String = {
    val prime = BigInt("100000001b3", 16)
    val init = BigInt("cbf29ce484222325", 16)
    s"list_reduce(list_prepend(${hug(init)}, " +
      s"list_transform(generate_series(1, len($tok)), i -> CAST(unicode(substr($tok, i, 1)) AS HUGEINT))), " +
      s"(a, c) -> ${mulc(xor64("a", "c"), prime)})"
  }

  /** `planes(j, d, s)` CTE body: the ±1 hyperplane signs of
    * plans.HyperplaneSig.planeSign for j in [0, nPlanes), d in [1, 64]
    * — the murmur3-fmix32 chain in 32-bit wrap-around arithmetic. */
  def planesCte(nPlanes: Int): String =
    s"""planes AS (
       |  SELECT j, d, CASE WHEN (x6 & 1) = 0 THEN 1 ELSE -1 END AS s FROM (
       |    SELECT j, d, xor(x5, x5 // 65536) AS x6 FROM (
       |      SELECT j, d, CAST((CAST(x4 AS HUGEINT) * 3266489909) % 4294967296 AS BIGINT) AS x5 FROM (
       |        SELECT j, d, xor(x3, x3 // 8192) AS x4 FROM (
       |          SELECT j, d, CAST((CAST(x2 AS HUGEINT) * 2246822507) % 4294967296 AS BIGINT) AS x3 FROM (
       |            SELECT j, d, xor(x1, x1 // 65536) AS x2 FROM (
       |              SELECT j, d, CAST(((CAST(j AS HUGEINT) * 2654435769 + d) % 4294967296) AS BIGINT) AS x1
       |              FROM generate_series(0, ${nPlanes - 1}) _j(j), generate_series(1, 64) _d(d)))))))
       |)""".stripMargin

  /** Strict LEFT-fold sum of an ordered double list — the engine
    * accumulates float terms in one fixed order (a while loop / Seq
    * fold), and IEEE addition is order-sensitive, so the oracle must
    * fold identically rather than SUM() in arbitrary order. */
  def lfold(lst: String): String =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), $lst), (a, b) -> a + b)"

  /** The CTE chain replaying [[Similarity.trainPqCodebooks]] +
    * [[Similarity.pqEncode]] over a `vecs(vec_id, embedding)` CTE the
    * caller must provide: hash-smallest seeds, `iters` Lloyd rounds
    * (strict-fold distances, integer-quantized recentring, empty cells
    * keep their centroid), final assignment in `codes(vec_id, m, j)`
    * and the trained books in `b$iters(m, j, t, c)`. nSub = 1 makes
    * this plain k-means — the IVF cell fit. Every CTE is MATERIALIZED:
    * each round references the previous one more than once, and an
    * inlining planner (DuckDB's default) would otherwise re-expand the
    * whole training prefix per reference — exponential in rounds. */
  def lloydCtes(nSub: Int, nCentroids: Int, iters: Int,
                prefix: String = "", emitVect: Boolean = true): String =
    lloydCtesExpr(nSub, nCentroids.toString, iters, prefix, emitVect)

  /** The engine's derived cell count (Similarity.buildIvfIndex with
    * nCells <= 0: max(2, round(sqrt(N)))) as a DuckDB scalar subquery
    * over the caller's `vecs` CTE. scala math.round and DuckDB round
    * agree on every positive non-half value, and sqrt of an integer
    * count is never exactly x.5. */
  val derivedCellsSql: String =
    "(SELECT GREATEST(2, CAST(round(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT)) FROM vecs)"

  /** [[lloydCtes]] with the centroid COUNT as a SQL expression instead
    * of a literal — the derived-nCells replay (engine rule nCells ~
    * sqrt(N), Similarity.buildIvfIndex): pass
    * [[derivedCellsSql]] and the oracle re-derives the same count from
    * the same corpus the engine counted. */
  def lloydCtesExpr(nSub: Int, nCentroidsSql: String, iters: Int,
                    prefix: String = "", emitVect: Boolean = true): String = {
    val nCentroids = nCentroidsSql
    val p = prefix
    val dsub = 64 / nSub
    def asgSelect(books: String): String =
      s"""  SELECT vec_id, m, j FROM (
         |    SELECT d.vec_id, d.m, d.j,
         |      row_number() OVER (PARTITION BY d.vec_id, d.m ORDER BY d.dist ASC, d.j ASC) AS rn
         |    FROM (
         |      SELECT ve.vec_id, b.m, b.j,
         |        ${lfold("list((ve.x - b.c) * (ve.x - b.c) ORDER BY b.t)")} AS dist
         |      FROM $books b JOIN ${p}vect ve ON ve.i = b.m * $dsub + b.t + 1
         |      GROUP BY 1, 2, 3) d) WHERE rn = 1""".stripMargin
    val rounds = (1 to iters).map { k =>
      s"""${p}asg$k AS MATERIALIZED (
         |${asgSelect(s"${p}b${k - 1}")}),
         |${p}sums$k AS MATERIALIZED (
         |  SELECT a.m, a.j, ve.i - a.m * $dsub - 1 AS t,
         |    SUM(CAST(round(ve.x * 10000) AS BIGINT)) AS s, COUNT(*) AS n
         |  FROM ${p}asg$k a JOIN ${p}vect ve ON ve.vec_id = a.vec_id
         |    AND ve.i > a.m * $dsub AND ve.i <= a.m * $dsub + $dsub
         |  GROUP BY 1, 2, 3),
         |${p}b$k AS MATERIALIZED (
         |  SELECT p.m, p.j, p.t, COALESCE(CAST(s.s AS DOUBLE) / 10000.0 / s.n, p.c) AS c
         |  FROM ${p}b${k - 1} p LEFT JOIN ${p}sums$k s ON s.m = p.m AND s.j = p.j AND s.t = p.t)""".stripMargin
    }.mkString(",\n")
    // When the caller provides its own `${prefix}vect` relation (e.g.
    // the residual chain of n36, whose per-dim rows are DERIVED from a
    // previous chain rather than unnested from an array column), only
    // the vect CTE is skipped — seeding still hashes the ids of `vecs`,
    // which by construction is the same id set.
    val vectCte = if (emitVect)
      s"""${p}vect AS MATERIALIZED (
         |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         |    CAST(unnest(embedding) AS DOUBLE) AS x FROM vecs),
         |""".stripMargin
    else ""
    s"""$vectCte${p}seedh AS MATERIALIZED (${hashLongSelect("SELECT vec_id FROM vecs", "vec_id")}),
       |${p}seeds AS MATERIALIZED (
       |  SELECT vec_id, row_number() OVER (ORDER BY hs ASC, vec_id ASC) - 1 AS j
       |  FROM ${p}seedh QUALIFY j < $nCentroids),
       |${p}b0 AS MATERIALIZED (
       |  SELECT (ve.i - 1) // $dsub AS m, s.j, (ve.i - 1) % $dsub AS t, ve.x AS c
       |  FROM ${p}seeds s JOIN ${p}vect ve ON ve.vec_id = s.vec_id),
       |$rounds,
       |${p}codes AS MATERIALIZED (
       |${asgSelect(s"${p}b$iters")})""".stripMargin
  }
}
