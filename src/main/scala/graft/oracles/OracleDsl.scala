package graft

/** Shared DuckDB-SQL-generation helpers used by the per-family
  * oracle objects (split out of SparkEntry in r14). Every helper
  * replays a native graft kernel bit-exactly in DuckDB SQL.
  */
private[graft] object OracleDsl {
  /** Merge-rule count shared by the bpe_train_steps / bpe_encode
    * queries and their oracles (the plans unroll per step).
    */
  val bpeSteps = 5

  /** DuckDB replay of `TextAnalysis.canonicalMerge` part 1 — the
    * merge START positions of pair (l, r) in symbol list `syms`: an
    * append-only list_reduce (a position merges iff it matches and
    * the previous position did not merge). The accumulator is NEVER
    * returned unchanged from a CASE branch — always
    * list_concat(acc, …) — the DuckDB 1.0.0 list_reduce corruption
    * workaround (see semdedup_fidelity_eval). NULL l/r → no matches →
    * empty positions → identity merge.
    */
  def duckMergePos(syms: String, l: String, r: String): String =
    s"""list_reduce(
         list_prepend(CAST([] AS BIGINT[]),
           list_transform(generate_series(1, len($syms) - 1), i -> [i])),
         (acc, xi) -> list_concat(acc,
           CASE WHEN $syms[xi[1]] = $l AND $syms[xi[1] + 1] = $r
                 AND (len(acc) = 0 OR acc[-1] != xi[1] - 1)
                THEN [xi[1]] ELSE [] END))"""

  /** Part 2 — rebuild the symbol list from merge positions `mp`:
    * merged positions emit l||r, their right symbols drop, everything
    * else passes through.
    */
  def duckMergeApply(
      syms: String, mp: String, l: String, r: String): String =
    s"""list_filter(list_transform(generate_series(1, len($syms)), i ->
         CASE WHEN list_contains($mp, i) THEN $l || $r
              WHEN list_contains($mp, i - 1) THEN NULL
              ELSE $syms[i] END), x -> x IS NOT NULL)"""

  /** The BPE trainer replayed as DuckDB CTEs — words → seqs0 → K
    * rounds of (pair-explode → weighted count → deterministic argmax
    * b$s → CANONICAL Sennrich merge via [[duckMergePos]] +
    * [[duckMergeApply]], the same left-to-right non-overlapping rule
    * as the engine). Shared by the trainer oracle (reads b1..bK) and
    * the encoder oracle (joins b1..bK against the per-document token
    * stream). Word state is a symbol LIST throughout.
    */
  val bpeTrainCtes: String = {
    // the step's (l, r) rule rides as COLUMNS via a 1-row aggregate
    // cross join (max over the ≤1-row b$s; NULL when absent) — DuckDB
    // rejects scalar subqueries INSIDE lambda expressions, but lambda
    // capture of outer columns is fine
    bpeTrainCtesFrom(
      """toks AS (SELECT unnest(list_filter(string_split(
           trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
             ' +', ' ', 'g')), ' '), x -> x <> '')) AS w FROM documents)""",
      bpeStepCtes)
  }

  /** The merge-unroll chain over an arbitrary `toks(w)` word-source
    * CTE — [[bpeTrainCtes]] (whitespace words) and the regex-pretok
    * variant share everything after tokenization.
    */
  def bpeTrainCtesFrom(toksCte: String, stepCtes: String): String =
    s"""$toksCte,
       words AS (SELECT w, count(*)::BIGINT AS freq FROM toks GROUP BY 1),
       seqs0 AS MATERIALIZED (SELECT
             list_transform(generate_series(1, length(w)), i -> w[i]) AS syms,
             freq FROM words),
       $stepCtes"""

  /** Step CTEs b1..bK / seqs1..seqsK shared by every trainer oracle. */
  def bpeStepCtes: String = {
    def ruleJoin(st: Int) = s"(SELECT max(l) AS rl, max(r) AS rr FROM b$st) jr$st"
    (1 to bpeSteps).map { s =>
      s"""pr$s AS (SELECT unnest(list_transform(generate_series(1, len(syms) - 1),
             i -> struct_pack(l := syms[i], r := syms[i + 1]))) AS p, freq
           FROM seqs${s - 1} WHERE len(syms) >= 2),
         pc$s AS (SELECT p.l AS l, p.r AS r, sum(freq)::BIGINT AS cnt
                  FROM pr$s GROUP BY 1, 2),
         b$s AS MATERIALIZED (SELECT $s::BIGINT AS step, l, r, cnt FROM pc$s
                 ORDER BY cnt DESC, l ASC, r ASC LIMIT 1),
         mp$s AS MATERIALIZED (SELECT syms, freq, rl, rr,
             ${duckMergePos("syms", "rl", "rr")} AS mp
           FROM seqs${s - 1}, ${ruleJoin(s)}),
         seqs$s AS MATERIALIZED (SELECT
             ${duckMergeApply("syms", "mp", "rl", "rr")} AS syms, freq
           FROM mp$s)"""
    }.mkString(",\n         ")
  }

  /** The GPT-2 bytes-to-unicode table as a DuckDB list literal —
    * GENERATED from [[graft.operators.TextAnalysis.byteToUnicode]]
    * (the Spark side's typedLit array), so the two engines cannot
    * drift. Index = byte value + 1 (1-based lists).
    */
  def duckB2uList: String =
    operators.TextAnalysis.byteToUnicode
      .map(s => "'" + s.replace("'", "''") + "'")
      .mkString("[", ", ", "]")

  /** A word's byte-symbol list in DuckDB: hex pairs of the UTF-8
    * encoding, each mapped through the `m` list (the [[duckB2uList]]
    * carried by a cross-joined 1-row CTE — lambdas can capture outer
    * columns but not scalar subqueries). strpos is 1-based, so
    * (h1-1)*16 + h2 lands on byte value + 1 directly.
    */
  def duckByteSyms(w: String): String =
    s"""list_transform(generate_series(1, strlen($w)), i ->
         m[(strpos('0123456789ABCDEF', substr(hex(encode($w)), 2*i-1, 1)) - 1) * 16
           + strpos('0123456789ABCDEF', substr(hex(encode($w)), 2*i, 1))])"""

  /** The byte-level BPE corpus construction (SparkEntry.bpeByteSalted
    * + preTokens) as a toks CTE: documents text salted with the
    * manufactured non-ASCII tail, regex pre-tokenized.
    */
  def bpeByteToksCte: String =
    """toks AS (SELECT unnest(list_filter(regexp_extract_all(
         lower(text || ' café münchen 東京 ' || CAST(doc_id % 7 AS VARCHAR)),
         '''(s|t|re|ve|m|ll|d)|[a-z]+|[0-9]+|[^a-z0-9\s'']+|''+'),
         x -> x <> '')) AS w FROM documents)"""

  /** [[bpeByteToksCte]] with doc_id carried — the per-DOCUMENT token
    * stream the byte-level encoder oracle consumes.
    */
  def bpeByteDocToksCte: String =
    """dtoks AS (SELECT doc_id, unnest(list_filter(regexp_extract_all(
         lower(text || ' café münchen 東京 ' || CAST(doc_id % 7 AS VARCHAR)),
         '''(s|t|re|ve|m|ll|d)|[a-z]+|[0-9]+|[^a-z0-9\s'']+|''+'),
         x -> x <> '')) AS w FROM documents)"""

  /** The BYTE-level trainer chain: same step CTEs as every other
    * trainer oracle, but seqs0 maps each pre-token's UTF-8 bytes
    * through the bytes-to-unicode list instead of splitting chars.
    */
  def bpeByteTrainCtes: String =
    s"""$bpeByteToksCte,
       b2u AS (SELECT $duckB2uList AS m),
       words AS (SELECT w, count(*)::BIGINT AS freq FROM toks GROUP BY 1),
       seqs0 AS MATERIALIZED (SELECT ${duckByteSyms("w")} AS syms, freq
           FROM words, b2u),
       $bpeStepCtes"""

  /** DuckDB dot-product snippet with the same sequential left-to-right
    * fold order as the native DotProduct expression — bit-identical
    * doubles on both engines.
    */
  def duckDot(a: String, b: String): String =
    s"list_reduce(list_prepend(0.0, list_transform(generate_series(1, len($a)), " +
      s"i -> $a[i] * $b[i])), (acc, x) -> acc + x)"

  /** DuckDB cosine(a,b) built from [[duckDot]] folds. */
  def duckCos(a: String, b: String): String =
    s"(${duckDot(a, b)} / sqrt(${duckDot(a, a)} * ${duckDot(b, b)}))"

  /** Bisecting-tree CTE unroll over a prior CTE `c(nid, ce)` — the
    * DuckDB replay of [[graft.operators.Similarity.bisectAssigned]]:
    * ⌈log₂ nCells⌉ deterministic 2-way splits (seeds = the node's two
    * lowest-nid vectors; `iters` integer-frozen 2-means refinements
    * per level; child = 2·node + {0,1} by (cosine desc, child asc)
    * argmax on the SAME sequential-fold doubles as the engine),
    * followed by up to 4 SIZE-GUARDED extension levels in which only
    * nodes still holding more than `target` rows keep splitting —
    * the guard is the per-node integer member count, recomputed per
    * level from the same data as the engine's.
    *
    * The nominal depth `dd` is a scalar CTE computed from the SAME
    * count-derived cell expression as the engine's
    * (`Similarity.treeDepth(cellsPlan(n, t))` as pure integers);
    * levels are unrolled to `maxDepth` with act-guarded no-ops beyond
    * (a level where no node is active rewrites nothing), so one
    * static SQL replays any corpus whose dd + 4 ≤ maxDepth (maxDepth
    * = 10 covers corpora to ~4k rows at target 64; grading runs at
    * ≤2k). Emits per level the node-count table `ns$l(node, cnt,
    * act)`, the child tables `bk${l}_0..iters(node, child, ctv)`
    * plus the level's EFFECTIVE kid table `bkx$l` (refined kids on
    * nominal levels or when an active node exceeds 2x target, seed
    * kids otherwise — the engine's refinement-skip rule; the beam
    * replay probes `bkx$l`) and finally `fasg(nid,
    * ce, cell_id, cent_cos)` where cent_cos is the row's last
    * assignment cosine (never-split rows: cosine to the corpus'
    * frozen mean — the flat k=1 behavior).
    *
    * Every CTE is MATERIALIZED: the level chain references its
    * predecessor multiple times, and DuckDB's inliner would
    * otherwise re-expand the parquet scan exponentially in depth
    * (observed as a file-handle exhaustion at 10 levels).
    */
  def duckBisectTree(
      iters: Int, maxDepth: Int, ncells: String, target: Int): String = {
    require(target > 0, "size guard needs a positive row target")
    val dd = "(SELECT dd FROM dp)"
    def level(l: Int): String = {
      val refine = (1 to iters).map { j =>
        s"""ba${l}_$j AS MATERIALIZED (SELECT nid, ce, node, child FROM (
               SELECT a.nid, a.ce, a.node, k.child,
                 row_number() OVER (PARTITION BY a.nid
                   ORDER BY ${duckCos("a.ce", "k.ctv")} DESC, k.child) AS rn
               FROM av$l a JOIN bk${l}_${j - 1} k USING (node)) WHERE rn = 1),
           bm${l}_$j AS MATERIALIZED (SELECT node, child, d,
                 CAST(sum(CAST(floor(ce[d] * 1048576.0 + 0.5) AS BIGINT)) AS DOUBLE)
                   / CAST(count(*) * 1048576 AS DOUBLE) AS m
               FROM ba${l}_$j, generate_series(1, 64) t(d) GROUP BY node, child, d),
           bk${l}_$j AS MATERIALIZED (SELECT node, child, list(m ORDER BY d) AS ctv
               FROM bm${l}_$j GROUP BY node, child)"""
      }.mkString(",\n")
      val refineBlock = if (refine.isEmpty) "" else s"$refine,\n"
      s"""ns$l AS MATERIALIZED (SELECT node, count(*) AS cnt,
             (($l < $dd) OR ($l < $dd + 4 AND count(*) > $target)) AS act
           FROM lv$l GROUP BY node),
         av$l AS MATERIALIZED (SELECT a.nid, a.ce, a.node, a.acs
           FROM lv$l a JOIN ns$l n USING (node) WHERE n.act),
         bk${l}_0 AS MATERIALIZED (SELECT node, rn - 1 AS child, ce AS ctv FROM (
             SELECT node, ce, row_number() OVER (PARTITION BY node ORDER BY nid) AS rn
             FROM av$l) WHERE rn <= 2),
         ${refineBlock}bkx$l AS MATERIALIZED (
           -- the engine's refinement-skip rule, replayed from the same
           -- integer counts: extension levels (l >= dd) whose active
           -- nodes are ALL within 2x target use the seed kids
           SELECT node, child, ctv FROM bk${l}_$iters
             WHERE $l < $dd OR EXISTS (
               SELECT 1 FROM ns$l WHERE act AND cnt > 2 * $target)
           UNION ALL
           SELECT node, child, ctv FROM bk${l}_0
             WHERE NOT ($l < $dd OR EXISTS (
               SELECT 1 FROM ns$l WHERE act AND cnt > 2 * $target))),
         bf$l AS MATERIALIZED (SELECT nid, ce, node, child, kc FROM (
             SELECT a.nid, a.ce, a.node, k.child,
               ${duckCos("a.ce", "k.ctv")} AS kc,
               row_number() OVER (PARTITION BY a.nid
                 ORDER BY ${duckCos("a.ce", "k.ctv")} DESC, k.child) AS rn
             FROM av$l a JOIN bkx$l k USING (node)) WHERE rn = 1),
         lv${l + 1} AS MATERIALIZED (
           SELECT nid, ce, node * 2 + child AS node, kc AS acs FROM bf$l
           UNION ALL
           SELECT a.nid, a.ce, a.node, a.acs
           FROM lv$l a JOIN ns$l n USING (node) WHERE NOT n.act)"""
    }
    val levels = (0 until maxDepth).map(level).mkString(",\n")
    // FAIL LOUDLY when the corpus outgrows the static unroll: the
    // guarded extension needs dd + 4 <= maxDepth, i.e. the cell count
    // m <= 2^(maxDepth-4). Beyond that the replay would silently
    // truncate relative to the engine (and past 2^maxDepth the dd
    // subquery would go NULL, collapsing every row into one cell), so
    // dp raises instead of grading a diverged query.
    s"""dp AS MATERIALIZED (SELECT CASE
           WHEN m > (1::BIGINT << ${maxDepth - 4}) THEN
             error('duckBisectTree unroll overflow: nCells=' || m ||
                   ' needs depth+4 > $maxDepth levels; regenerate with larger maxDepth')
           WHEN m <= 1 THEN 0 ELSE
           (SELECT min(d) FROM generate_series(1, $maxDepth) t(d)
            WHERE (1::BIGINT << d) >= m) END AS dd
         FROM (SELECT ($ncells) AS m)),
       lv0 AS MATERIALIZED (SELECT nid, ce, 1::BIGINT AS node,
           NULL::DOUBLE AS acs FROM c),
       $levels,
       rmm AS MATERIALIZED (SELECT d,
             CAST(sum(CAST(floor(ce[d] * 1048576.0 + 0.5) AS BIGINT)) AS DOUBLE)
               / CAST(count(*) * 1048576 AS DOUBLE) AS m
           FROM c, generate_series(1, 64) t(d) GROUP BY d),
       rmv AS MATERIALIZED (SELECT list(m ORDER BY d) AS ctv FROM rmm),
       fasg AS MATERIALIZED (SELECT a.nid, a.ce, a.node AS cell_id,
           coalesce(a.acs, ${duckCos("a.ce", "r.ctv")}) AS cent_cos
         FROM lv$maxDepth a, rmv r)"""
  }

  /** Beam-descent CTE unroll over a prior CTE `q(query_id, qe)` — the
    * query-side replay of [[graft.operators.Similarity.knnJoinIvf]]'s
    * probe ladder: per level score the beam nodes' children from
    * `bkx$l` (emitted by [[duckBisectTree]] with the same
    * iters/maxDepth), keep the nProbe best by (score desc, node asc);
    * a beam node the level did not split has no child rows and passes
    * through with its carried score, competing in the same rank.
    * Emits `pr(query_id, qe, cell_id)`.
    */
  def duckBeam(
      iters: Int, maxDepth: Int, nProbe: Int, pfx: String = ""): String = {
    // `pfx` namespaces the beam CTEs so one statement can descend the
    // same tree at several probe widths (the recall-curve oracle);
    // the final probe table is `pr$pfx`.
    def level(l: Int): String =
      s"""bx$pfx$l AS MATERIALIZED (SELECT b.query_id, b.qe,
             b.node * 2 + k.child AS cnode, ${duckCos("b.qe", "k.ctv")} AS sc
           FROM bq$pfx$l b JOIN bkx$l k USING (node)),
         bp$pfx$l AS MATERIALIZED (SELECT b.query_id, b.qe, b.node AS cnode, b.sc
           FROM bq$pfx$l b WHERE NOT EXISTS (
             SELECT 1 FROM bkx$l k WHERE k.node = b.node)),
         bq$pfx${l + 1} AS MATERIALIZED (
           SELECT query_id, qe, cnode AS node, sc FROM (
               SELECT query_id, qe, cnode, sc,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY sc DESC, cnode) AS rn
               FROM (SELECT * FROM bx$pfx$l UNION ALL SELECT * FROM bp$pfx$l))
             WHERE rn <= $nProbe)"""
    val levels = (0 until maxDepth).map(level).mkString(",\n")
    s"""bq${pfx}0 AS MATERIALIZED (SELECT query_id, qe, 1::BIGINT AS node,
           1.0::DOUBLE AS sc FROM q),
       $levels,
       pr$pfx AS MATERIALIZED (SELECT query_id, qe, node AS cell_id, sc
         FROM bq$pfx$maxDepth)"""
  }

  /** Integer replay of `Similarity.cellsPlan(count(c), target)` as a
    * scalar subquery — the self-scaling cell count the engine derives
    * from the same corpus count.
    */
  def duckCellsPlan(target: Int): String =
    s"(SELECT greatest(1, (count(*) + ${target - 1}) // $target) FROM c)"

  /** DuckDB FNV-1a 64 over a token's characters in unsigned-HUGEINT
    * mod-2^64 arithmetic — the same bit pattern as the native
    * `Fnv.mixBytes` (the xor only ever touches the low byte, so it is
    * computed on the BIGINT low byte and recombined). Tokens here are
    * ASCII, so `unicode(char)` IS the UTF-8 byte.
    */
  /** Staged-CTE replay of [[graft.functions.VectorExprs.fmix64]] (the
    * murmur3 finalizer) over an unsigned-HUGEINT hash column: xor via
    * signed-BIGINT round trips (two's complement keeps the bits), and
    * the wrapping 64-bit multiplies split at 2³² so no intermediate
    * exceeds HUGEINT range. Emits CTEs `f1..f5`; the input CTE must
    * expose (tok, h0), and `f5` exposes (tok, h).
    */
  def duckFmixCtes(): String = {
    val u64 = "'18446744073709551616'::HUGEINT"
    def sgn(x: String) =
      s"(CASE WHEN $x >= '9223372036854775808'::HUGEINT THEN $x - $u64 ELSE $x END)::BIGINT"
    def uns(x: String) =
      s"(CASE WHEN $x < 0 THEN $x::HUGEINT + $u64 ELSE $x::HUGEINT END)"
    def xor64(a: String, b: String) = uns(s"xor(${sgn(a)}, ${sgn(b)})")
    def mulmod(u: String, c: String) =
      s"""((($u % 4294967296) * '$c'::HUGEINT +
          ((($u // 4294967296) * '$c'::HUGEINT) % 4294967296) * 4294967296) % $u64)"""
    s"""f1 AS (SELECT tok, ${xor64("h0", "(h0 // 8589934592)")} AS x1 FROM hh),
       f2 AS (SELECT tok, ${mulmod("x1", "18397679294719823053")} AS x2 FROM f1),
       f3 AS (SELECT tok, ${xor64("x2", "(x2 // 8589934592)")} AS x3 FROM f2),
       f4 AS (SELECT tok, ${mulmod("x3", "14181476777654086739")} AS x4 FROM f3),
       f5 AS (SELECT tok, ${xor64("x4", "(x4 // 8589934592)")} AS h FROM f4)"""
  }

  def duckFnv(tok: String): String =
    s"""list_reduce(
       list_prepend('14695981039346656037'::HUGEINT,
         list_transform(generate_series(1, length($tok)), i -> unicode($tok[i])::HUGEINT)),
       (h, c) -> ((h - (h % 256) + xor((h % 256)::BIGINT, c::BIGINT)::HUGEINT)
                  * 1099511628211::HUGEINT) % '18446744073709551616'::HUGEINT)"""

  /** VALUES list (bit, 2^bit) for extracting the 64 bits of an
    * unsigned-HUGEINT hash: bit i of h = (h // 2^i) % 2.
    */
  def duckBitPowers: String =
    (0 until 64).map(i => s"($i,'${BigInt(1) << i}'::HUGEINT)").mkString(",")

  /** The ±1 hyperplane row for one LSH bit as a DuckDB list literal —
    * the exact sign matrix of the native `HyperplaneBucket` kernel
    * (single source of truth: `VectorExprs.hyperplaneSign`).
    */
  def duckHyperplaneArr(bit: Int, dims: Int): String =
    (0 until dims).map(d =>
      if (graft.functions.VectorExprs.hyperplaneSign(bit, d) > 0) "1.0" else "-1.0")
      .mkString("[", ",", "]")

  /** Projection of vector column `e` onto hyperplane `bit`, folded in
    * index order so the double is bit-identical to the native kernel's
    * sequential loop.
    */
  def duckHyperplaneProj(bit: Int, dims: Int): String =
    s"""list_reduce(list_prepend(0.0, list_transform(generate_series(1, len(e)),
       i -> e[i] * (${duckHyperplaneArr(bit, dims)})[i])), (acc, x) -> acc + x)"""

  /** The full ±1 hyperplane sign matrix (maxBits × dims) as one DuckDB
    * list-of-lists literal — single source of truth
    * `VectorExprs.hyperplaneSign`, row b = hyperplane b of the global
    * stream, so a DYNAMIC bit count (the bits-from-n rule) can index
    * it at replay time where the per-bit [[duckHyperplaneArr]] embeds
    * a static bit.
    */
  def duckSignMatrix(maxBits: Int, dims: Int): String =
    (0 until maxBits).map(b => (0 until dims).map(d =>
      if (graft.functions.VectorExprs.hyperplaneSign(b, d) > 0) "1.0" else "-1.0")
      .mkString("[", ",", "]")).mkString("[", ",", "]")

  /** Bits-per-table ceiling the banded oracle can replay: CASE chain
    * and sign matrix are both GENERATED from this one constant, so the
    * two can never disagree. 16 bits covers n = 64·2¹⁶ ≈ 4.2M
    * embedding rows — far past any verify scale (the r6 hardcoded
    * 8-bit/48-row literal silently coupled verify coverage to tables
    * ≤ 16384 rows); beyond the ceiling the oracle still errors loudly
    * instead of replaying wrong.
    */
  val duckBandedMaxBits: Int = 16

  /** Integer replay of `Similarity.lshPlanBits(n, 64)` from m =
    * ⌈n/64⌉: smallest nb with 2^nb ≥ m, min 1 — a generated CASE
    * chain (no log2 floats, no engine-specific bit functions).
    */
  val duckBandedNb: String =
    (1 to duckBandedMaxBits)
      .map(b => s"WHEN m <= ${1L << b} THEN $b")
      .mkString("CASE ", " ", " ELSE CAST(error('banded oracle sign matrix supports at most " +
        s"$duckBandedMaxBits bits per table') AS INTEGER) END")

  /** CTE block replaying `Similarity.nearDupCosineBanded(_, _, _, thr, n,
    * 64, 6)` bit-exactly on top of a caller-supplied
    * `v(vec_id, e DOUBLE[])` CTE: bits-from-count rule (bpar), sign
    * matrix (bsgm), per-table bucket as the sign-bit sum of
    * index-order-folded projections (bbv — table t reads matrix rows
    * t·nb+1 .. t·nb+nb, matching the kernel's bitOffset = t·nBits),
    * candidate pairs from per-table bucket equality (bcand), exact
    * cosine on candidates (bpairs, unthresholded — callers filter).
    */
  def duckBandedCtes(nTables: Int = 6, countWhere: String = ""): String =
    s"""bpar AS (SELECT $duckBandedNb AS nb
                 FROM (SELECT (count(*) + 63) // 64 AS m FROM v $countWhere)),
       bsgm AS (SELECT ${duckSignMatrix(nTables * duckBandedMaxBits, 64)} AS sm),
       bbv AS (SELECT vec_id, e, tt.tbl,
                 list_sum(list_transform(generate_series(1, nb),
                   j -> CASE WHEN list_reduce(list_prepend(0.0,
                               list_transform(generate_series(1, len(e)),
                                 i -> e[i] * sm[tbl * nb + j][i])), (acc, x) -> acc + x) > 0
                             THEN 2 ** (j - 1) ELSE 0 END))::BIGINT AS bucket
               FROM v, bsgm, bpar, generate_series(0, ${nTables - 1}) tt(tbl)),
       bcand AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
                 FROM bbv a JOIN bbv b
                   ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
                 GROUP BY 1, 2),
       bpairs AS (SELECT c.id_a, c.id_b, ${duckCos("va.e", "vb.e")} AS cs
                  FROM bcand c JOIN v va ON va.vec_id = c.id_a
                  JOIN v vb ON vb.vec_id = c.id_b)"""

  /** Per-width strictly-preceding counts over a masked candidate set
    * (the fused-ladder rank trick shared with the knn_recall_curve
    * oracle): c$p = rank-1 of the row within the width-p slice.
    */
  def duckMaskedCnts(probePoints: Seq[Int], ord: String): String =
    probePoints.map(p =>
      s"""sum(CASE WHEN (pm & $p) != 0 THEN 1 ELSE 0 END)
             OVER (PARTITION BY query_id ORDER BY $ord
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS c$p""")
      .mkString(",\n")

  /** Masked multi-width beam descent CTEs over the shared bisect-tree
    * levels (bkx$l): seeds `prefix`q0 from the `qCte` query set with
    * the full width mask, keeps per width p the top-p nodes per level.
    * Exact per-width beam semantics — the width-p slice equals an
    * independent single-width descent (property-pinned by the curve
    * spec on the engine side).
    */
  def duckMaskedBeamLevels(qCte: String, prefix: String,
      probePoints: Seq[Int], maxDepth: Int = 10): String = {
    val maskAll = probePoints.sum
    val pmExpr = probePoints.map(p =>
      s"(CASE WHEN (pm & $p) != 0 AND coalesce(c$p, 0) < $p THEN $p ELSE 0 END)")
      .mkString(" + ")
    def level(l: Int): String =
      s"""${prefix}c$l AS MATERIALIZED (
             SELECT b.query_id, b.qe, b.pm,
               b.node * 2 + k.child AS cnode, ${duckCos("b.qe", "k.ctv")} AS sc
             FROM ${prefix}q$l b JOIN bkx$l k USING (node)
             UNION ALL
             SELECT b.query_id, b.qe, b.pm, b.node AS cnode, b.sc
             FROM ${prefix}q$l b WHERE NOT EXISTS (
               SELECT 1 FROM bkx$l k WHERE k.node = b.node)),
           ${prefix}r$l AS MATERIALIZED (SELECT *,
               ${duckMaskedCnts(probePoints, "sc DESC, cnode")}
             FROM ${prefix}c$l),
           ${prefix}q${l + 1} AS MATERIALIZED (
             SELECT query_id, qe, cnode AS node, sc, ($pmExpr) AS pm
             FROM ${prefix}r$l WHERE ($pmExpr) != 0)"""
    s"""${prefix}q0 AS MATERIALIZED (SELECT query_id, qe, 1::BIGINT AS node,
             1.0::DOUBLE AS sc, $maskAll AS pm FROM $qCte),
         ${(0 until maxDepth).map(level).mkString(",\n         ")}"""
  }

  /** Closed-form dHash replay for the synthetic near-dup image corpus:
    * grid cells from the Lehmer pixel formula (never decoding — the
    * Spark side proves the codecs invert), dHash comparison bits, and
    * the stride-4 16-bit band values. Shared by image_phash_neardup /
    * image_phash_incremental, which append their own candidate-join +
    * Hamming-verify tail over `bands`/`bits`. w≥16, h≥16 keeps every
    * box ≥1 pixel so the floored bounds partition the raster exactly
    * as Multimodal.dHash64 computes them.
    */
  def duckDhashCtes: String = duckDhashCtesGated("TRUE")

  /** [[duckDhashCtes]] with a metadata gate applied between raster
    * construction and the cell/bit computation — `dk` is the gated
    * doc set every downstream CTE (cells/bits/bands) reads, so a
    * composed pipeline oracle fingerprints only the survivors of its
    * gate (curation_image_e2e).
    */
  def duckDhashCtesGated(gate: String): String =
    s"""nk AS (SELECT least(greatest(37, count(*) // 14), 2147483647) AS nk FROM documents),
         d AS (SELECT doc_id, doc_id % (SELECT nk FROM nk) AS key,
             16 + (doc_id % (SELECT nk FROM nk)) % 16 AS w,
             16 + (doc_id % (SELECT nk FROM nk)) % 8 AS h,
             (doc_id % 3 = 0) AS pert FROM documents),
         dk AS (SELECT * FROM d WHERE $gate),
         cells AS (
           SELECT doc_id, gi.i AS i, gj.j AS j,
             (list_sum(flatten(list_transform(
                generate_series((gi.i * h) // 8, ((gi.i + 1) * h) // 8 - 1),
                y -> list_transform(
                  generate_series((gj.j * w) // 9, ((gj.j + 1) * w) // 9 - 1),
                  x -> (299 * (CASE WHEN pert AND y * w + x = key % (w * h)
                               THEN ((((key * 48271 + (y * w + x) * 16807) % 2147483647) * 48271 % 2147483647) % 256 + 16) % 256
                               ELSE (((key * 48271 + (y * w + x) * 16807) % 2147483647) * 48271 % 2147483647) % 256 END)
                        + 587 * ((((key * 48271 + (y * w + x) * 16807 + 31) % 2147483647) * 48271 % 2147483647) % 256)
                        + 114 * ((((key * 48271 + (y * w + x) * 16807 + 62) % 2147483647) * 48271 % 2147483647) % 256)) // 1000))))
              // ((((gi.i + 1) * h) // 8 - (gi.i * h) // 8)
                 * (((gj.j + 1) * w) // 9 - (gj.j * w) // 9)))::BIGINT AS cell
           FROM dk, generate_series(0, 7) gi(i), generate_series(0, 8) gj(j)),
         bits AS (SELECT a.doc_id, a.i * 8 + a.j AS bit,
                    CASE WHEN a.cell < b.cell THEN 1 ELSE 0 END AS fb
                  FROM cells a JOIN cells b
                    ON b.doc_id = a.doc_id AND b.i = a.i AND b.j = a.j + 1
                  WHERE a.j < 8),
         bands AS (SELECT doc_id, bit % 4 AS band,
                     sum(fb * (1 << (bit // 4)))::BIGINT AS band_val
                   FROM bits GROUP BY 1, 2),"""

  /** CTE chain replaying Web.canonicalizeUrl + registrableDomain over
    * the SparkEntry.messyUrl construction, parameterized by the path
    * key expression. Final CTE `canon(doc_id, url_canon, domain)`.
    * Every step mirrors the Column chain 1:1 (anchored regexes are
    * first-match in DuckDB and can only match once under Spark's
    * global replace; str_split keeps trailing empties like Spark's
    * split(_, _, -1); empty array_to_string is coalesced to '').
    */
  def duckUrlCanonCtes(pathKey: String): String =
    raw"""u AS (
         SELECT doc_id,
           (CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'https' END) || '://' ||
           (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END) ||
           (CASE WHEN doc_id % 5 = 0 THEN upper(source) ELSE source END) ||
           (CASE WHEN doc_id % 3 = 1 THEN '.CO.UK' ELSE '.com' END) ||
           (CASE doc_id % 4 WHEN 0 THEN ':80' WHEN 1 THEN ':443'
                 WHEN 2 THEN ':8080' ELSE '' END) ||
           '/Docs/%2fitem/' || CAST($pathKey AS VARCHAR) ||
           (CASE WHEN doc_id % 5 = 1 THEN '/50%off' ELSE '' END) ||
           (CASE WHEN doc_id % 6 = 0 THEN '/' ELSE '' END) ||
           (CASE doc_id % 6 WHEN 0 THEN '?b=2&utm_source=x&a=1'
                 WHEN 1 THEN '?gclid=g1&z=9&fbclid' WHEN 2 THEN '?fbclid=f&ref=r'
                 WHEN 3 THEN '?a=1' WHEN 4 THEN '?utm_campaign=c&ref'
                 ELSE '' END) ||
           (CASE WHEN doc_id % 2 = 0 THEN '#Top' ELSE '' END) AS url
         FROM documents),
       c1 AS (SELECT doc_id, regexp_replace(url, '#.*', '') AS uu FROM u),
       c2 AS (SELECT doc_id,
                lower(regexp_extract(uu, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
                regexp_replace(uu, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
              FROM c1),
       c3 AS (SELECT *, CASE WHEN instr(rest, '/') = 0 THEN len(rest) + 1
                             ELSE instr(rest, '/') END AS cut FROM c2),
       c4 AS (SELECT doc_id, scheme, substr(rest, 1, cut - 1) AS hostport,
                substr(rest, cut) AS pathq FROM c3),
       c5 AS (SELECT *, regexp_extract(hostport, ':([0-9]+)$$', 1) AS port,
                regexp_replace(lower(regexp_replace(hostport, ':[0-9]+$$', '')),
                  '^www\.', '') AS host FROM c4),
       c6 AS (SELECT *,
                CASE WHEN port != '' AND NOT ((scheme = 'http' AND port = '80')
                       OR (scheme = 'https' AND port = '443'))
                     THEN ':' || port ELSE '' END AS portsuf,
                instr(pathq, '?') AS qpos FROM c5),
       c7 AS (SELECT *,
                CASE WHEN qpos = 0 THEN pathq ELSE substr(pathq, 1, qpos - 1) END AS rawpath,
                CASE WHEN qpos = 0 THEN '' ELSE substr(pathq, qpos + 1) END AS rawq
              FROM c6),
       c8 AS (SELECT *, CASE WHEN regexp_replace(rawpath, '/+$$', '') = '' THEN '/'
                             ELSE regexp_replace(rawpath, '/+$$', '') END AS ptrim FROM c7),
       c9 AS (SELECT *, str_split(ptrim, '%') AS pp FROM c8),
       c10 AS (SELECT *, coalesce(array_to_string(
                 list_transform(generate_series(1, len(pp)),
                   i -> CASE WHEN i = 1 THEN pp[i]
                             WHEN regexp_matches(substr(pp[i], 1, 2), '^[0-9a-fA-F]{2}$$')
                               THEN upper(substr(pp[i], 1, 2)) || substr(pp[i], 3)
                             ELSE pp[i] END),
                 '%'), '') AS path FROM c9),
       c11 AS (SELECT *, coalesce(array_to_string(list_sort(
                 list_filter(str_split(rawq, '&'),
                   x -> x != '' AND NOT regexp_matches(x,
                     '^(utm_[a-z]+|gclid|fbclid|ref)(=|$$)'))), '&'), '') AS qs FROM c10),
       c12 AS (SELECT *, str_split(host, '.') AS hl FROM c11),
       canon AS (SELECT doc_id,
           scheme || '://' || host || portsuf || path ||
             CASE WHEN qs = '' THEN '' ELSE '?' || qs END AS url_canon,
           ${operators.Psl.domainCaseSql("hl", "host")} AS domain
         FROM c12)"""

}
