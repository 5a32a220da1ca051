package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Vector-similarity operators over embedding columns (SURVEY table N).
  *
  * The fixture embeddings are `array<float>` dim 64; every operator
  * casts to double FIRST (float math diverges across engines —
  * FIXTURES.md trap 3) and computes dot products with sequential HOF
  * folds, whose addition order matches DuckDB's list_dot_product —
  * bit-identical results.
  *
  * Scale paths:
  * - brute-force top-k: map-only score + TakeOrderedAndProject (per-
  *   partition heaps, driver merges k — no global sort, no shuffle);
  * - all-pairs search is NEVER unblocked: the self-join variant blocks
  *   on a partition key (label here; LSH bucket or IVF cell in
  *   general), turning O(n²) into Σ O(block²);
  * - IVF-style: assign to nearest centroid (broadcast centroids,
  *   map-only), then search within the cell — the bucketed variant of
  *   the same blocked join.
  */
object Similarity {

  /** Sequential-fold dot product of two double arrays. */
  def dot(a: String, b: String): Column = {
    val (as, bs) = (a, b)
    expr(s"aggregate(zip_with($as, $bs, (x, y) -> x * y), " +
      "cast(0.0 as double), (acc, v) -> acc + v)")
  }

  /** Cosine similarity (double arrays; callers cast floats first). */
  def cosine(a: String, b: String): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** Cosine via the native codegen'd expression
    * [[graft.functions.CosineSim]] — a fused primitive loop instead of
    * three HOF folds; bit-identical accumulation order (see its
    * scaladoc), so oracles are unchanged. Callers must hold a session
    * with graft functions registered; [[cosineNative]] handles that.
    */
  def cosineNative(df: DataFrame, a: String, b: String): Column = {
    graft.GraftExtensions.register(df.sparkSession)
    expr(s"graft_cosine($a, $b)")
  }

  /** Dot product via the native codegen'd expression
    * [[graft.functions.DotProduct]] — same accumulation order as
    * [[dot]], bit-identical results, no per-pair lambda/array
    * overhead. Use on the per-PAIR hot path of similarity joins.
    */
  def dotNative(df: DataFrame, a: String, b: String): Column = {
    graft.GraftExtensions.register(df.sparkSession)
    expr(s"graft_dot($a, $b)")
  }

  /** Brute-force cosine top-k against one query vector: the exact
    * baseline every approximate method is judged against. Map-only
    * native scoring + TakeOrderedAndProject — no shuffle, no global
    * sort.
    */
  def topK(embeddings: DataFrame, query: DataFrame, k: Int): DataFrame = {
    val q = broadcast(query.select(col("embedding")
      .cast("array<double>").as("qvec")))
    val e = embeddings
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("vec"))
    e.crossJoin(q)
      .select(col("vec_id"), col("label"),
        (round(cosineNative(embeddings, "vec", "qvec"), 4) + lit(0.0))
          .as("score")) // +0.0 folds -0.0 into +0.0
      .orderBy(col("score").desc, col("vec_id"))
      .limit(k)
  }

  /** Label-blocked all-pairs similarity join: pairs within the same
    * block with cosine ≥ threshold.
    */
  def blockedPairs(embeddings: DataFrame, threshold: Double): DataFrame = {
    // Norms are precomputed per VECTOR (O(n)) rather than per PAIR
    // (O(n²/blocks)) — the dominant cost in a similarity self-join.
    // Same fp op sequence per pair as the naive form, so scores are
    // bit-identical to the oracle's formula.
    val e = embeddings.select(col("vec_id"), col("label"),
      col("embedding").cast("array<double>").as("vec"))
      .withColumn("nrm", sqrt(dot("vec", "vec")))
      // The fixture arrives as ONE file → one partition → the pair
      // loop would run on a single task (and the score filter gets
      // pushed into the join condition, evaluated per candidate pair).
      // Spreading the probe side parallelizes the O(pairs) work.
      .transform(graft.operators.Distribute.by(_, col("vec_id")))
    val a = e.select(col("vec_id").as("id_a"), col("label"),
      col("vec").as("vec_a"), col("nrm").as("nrm_a"))
    val b = e.select(col("vec_id").as("id_b"), col("label").as("label_b"),
      col("vec").as("vec_b"), col("nrm").as("nrm_b"))
    a.join(b, col("label") === col("label_b") && col("id_a") < col("id_b"))
      .withColumn("score",
        dotNative(embeddings, "vec_a", "vec_b") /
          (col("nrm_a") * col("nrm_b")))
      .filter(col("score") >= threshold)
      .select(col("id_a"), col("id_b"), col("label"),
        (round(col("score"), 4) + lit(0.0)).as("score_r"))
  }

  /** Raw (unrounded) per-label mean vectors — the IVF coarse
    * quantizer's codebook. Same shuffle shape as [[centroids]].
    */
  def rawCentroids(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("label"), posexplode(col("embedding").cast("array<double>"))
        .as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos"))
      .agg(avg(col("v")).as("m"))
      .groupBy(col("label"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, m))), s -> s.m)")
        .as("centroid"))

  /** IVF-style approximate top-k: rank cells (labels) by the query's
    * distance to each cell centroid, probe only the `nprobe` nearest
    * cells, brute-force inside them. At 100 TB this is the standard
    * two-level ANN: the codebook broadcasts (KB), cell assignment is
    * map-only, and the probed fraction bounds the scan to
    * nprobe/cells of the data.
    */
  def ivfTopK(embeddings: DataFrame, query: DataFrame, k: Int,
      nprobe: Int): DataFrame = {
    val cb = rawCentroids(embeddings)
    val q = broadcast(query.select(col("embedding")
      .cast("array<double>").as("qvec"))
      .withColumn("qnorm", sqrt(dot("qvec", "qvec"))))
    // Rank cells by (rounded) centroid cosine to the query; ties by
    // label — deterministic across engines despite fp-order ε in the
    // unrounded centroid sums.
    val probed = broadcast(cb.crossJoin(q)
      .select(col("label"),
        round((dot("centroid", "qvec") /
          (sqrt(dot("centroid", "centroid")) * col("qnorm"))), 6)
          .as("cdist"))
      .orderBy(col("cdist").desc, col("label"))
      .limit(nprobe)
      .select(col("label").as("probe_label")))
    embeddings
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("vec"))
      .join(probed, col("label") === col("probe_label"), "left_semi")
      .crossJoin(q)
      .select(col("vec_id"), col("label"),
        (round(cosineNative(embeddings, "vec", "qvec"), 4) + lit(0.0))
          .as("score"))
      .orderBy(col("score").desc, col("vec_id"))
      .limit(k)
  }

  /** Squared L2 distance of two double arrays (sequential fold). */
  def l2sq(a: String, b: String): Column =
    expr(s"aggregate(zip_with($a, $b, (x, y) -> (x - y) * (x - y)), " +
      "cast(0.0 as double), (acc, v) -> acc + v)")

  /** One Lloyd (k-means) iteration — the IVF codebook training step at
    * scale: the codebook broadcasts (KB), assignment is a map-only
    * argmin over it, and the mean update is one shuffle keyed
    * (cell, pos). No driver-side loops; iterate by calling again.
    *
    * @param embeddings (vec_id, vec: array<double>)
    * @param centroids  (cell: int, centroid: array<double>)
    * @return updated (cell, centroid) — cells that captured no vectors
    *         drop out (standard empty-cluster drop policy)
    */
  def kmeansIter(embeddings: DataFrame, centroids: DataFrame): DataFrame = {
    val assigned = assign(embeddings, centroids)
    assigned
      .select(col("cell"), posexplode(col("vec")).as(Seq("pos", "v")))
      .groupBy(col("cell"), col("pos"))
      .agg(avg(col("v")).as("m"))
      .groupBy(col("cell"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, m))), s -> s.m)")
        .as("centroid"))
  }

  /** Nearest-centroid assignment (map-only; broadcast codebook).
    * Ties break to the lowest cell id — deterministic.
    */
  def assign(embeddings: DataFrame, centroids: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("d2"), col("cell"))
    embeddings
      .crossJoin(broadcast(centroids))
      .withColumn("d2", l2sq("vec", "centroid"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("vec"), col("cell"), col("d2"))
  }

  /** Per-label mean vector (nearest-centroid training step): explode
    * to (label, pos, v), average per cell, reassemble in pos order.
    * One shuffle keyed (label, pos) — fully distributed.
    */
  def centroids(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("label"), posexplode(col("embedding").cast("array<double>"))
        .as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos"))
      .agg((round(avg(col("v")), 4) + lit(0.0)).as("m"))
      .groupBy(col("label"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, m))), s -> s.m)")
        .as("centroid"))

  /** Random-hyperplane LSH bucketing (angular-distance banding — the
    * vector twin of MinHash banding). Plane (h, d) weights are ±1
    * derived from md5, so every engine and every run draws the same
    * "random" planes; bit h of a band's bucket is the sign of the
    * vector's dot product with plane h. Two near-parallel vectors
    * agree on each bit with probability 1 - θ/π; banding (OR across
    * bands of AND-ed bits) gives the usual LSH S-curve. Map-only per
    * row — the only shuffle is the bucket self-join that follows.
    *
    * Returns (all input columns, band, bucket) with one row per band.
    */
  def hyperplaneBuckets(embeddings: DataFrame, vecCol: String,
      bands: Int = 2, rowsPerBand: Int = 8, dim: Int = 64): DataFrame = {
    // The plane signs are ROW-INDEPENDENT: derive them from md5 ONCE,
    // driver-side, and embed them as array literals — the per-row work
    // is then a pure multiply-add dot product inside codegen. The
    // original per-row form re-derived every sign with an md5 call
    // (bands*rowsPerBand*dim md5s PER ROW — at 100M vectors, ~10^14
    // hashes of pure waste). Same signs, same fold order → identical
    // buckets.
    def md5hex(x: String): String = java.security.MessageDigest
      .getInstance("MD5")
      .digest(x.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString
    val bucketOf = (b: Int) => {
      val planes = (0 until rowsPerBand).map { j =>
        val h = b * rowsPerBand + j
        // sign bit: first md5 hex digit of "h:d" ≥ '8' → +1 else -1
        val signs = (0 until dim).map(d =>
          if (md5hex(s"$h:$d").charAt(0) >= '8') "1.0D" else "-1.0D")
        val planeLit = signs.mkString("array(", ", ", ")")
        s"""CASE WHEN aggregate(zip_with($vecCol, $planeLit,
           |  (x, p) -> x * p), cast(0.0 as double), (s, v) -> s + v)
           |  >= cast(0.0 as double)
           |THEN ${1L << j}L ELSE 0L END""".stripMargin
      }
      // The plane literals are fixed-width: a vector of any OTHER
      // dimension would zip_with null-padded, fold to null, and take
      // every CASE's 0 branch — silently wrong buckets. Fail instead.
      expr(s"""CASE WHEN size($vecCol) <> $dim THEN
        |  cast(raise_error(concat(
        |    'hyperplaneBuckets: vector dim ',
        |    cast(size($vecCol) as string),
        |    ' does not match configured dim $dim')) as bigint)
        |ELSE ${planes.mkString("(", " + ", ")")} END""".stripMargin)
    }
    val withBands = (0 until bands).foldLeft(embeddings) { (df, b) =>
      df.withColumn(s"__bucket_$b", bucketOf(b))
    }
    withBands
      .withColumn("band",
        explode(expr(s"sequence(0, ${bands - 1})")))
      .withColumn("bucket",
        expr((0 until bands).map(b => s"WHEN band = $b THEN __bucket_$b")
          .mkString("CASE ", " ", " END")))
      .drop((0 until bands).map(b => s"__bucket_$b"): _*)
  }

  /** N_SIM8 — product quantization (the PQ half of FAISS IVFPQ): each
    * vector splits into `m` subvectors of `subDim` dims; per subspace
    * a 16-entry codebook encodes every vector as m 4-bit codes (for
    * 64-dim float vectors: 256 bytes → 8 bytes, 32× compression), and
    * a query scores candidates via an ADC lookup table — approx dot =
    * Σ_s LUT[s][code_s], m table adds per candidate, zero per-dim
    * work. The codebook here is deterministic (the subvectors of the
    * 16 lowest-id vectors — sample-seeded; kmeans-trained centroids
    * plug into the same shape, see [[kmeansIter]]).
    *
    * Scale: the codebook is m×16 rows whatever the corpus size
    * (broadcasts), encoding is a map-only argmin via `min_by` (no
    * window, no shuffle beyond the final per-vector rollup), scoring
    * is a broadcast-LUT join + top-k. Determinism: subspace distances
    * and LUT entries are fixed-point quantized (×10⁶ / ×10⁴ BIGINT)
    * before any argmin/sum, ties broken on centroid index.
    */
  def pqTopK(embeddings: DataFrame, query: DataFrame, k: Int = 20,
      m: Int = 8, subDim: Int = 8): DataFrame = {
    val nc = 16
    def dotS(a: String, b: String) =
      s"aggregate(zip_with($a, $b, (x, y) -> x * y), " +
        "cast(0.0 as double), (acc, v) -> acc + v)"
    val e = embeddings.select(col("vec_id"), col("label"),
      col("embedding").cast("array<double>").as("v"))
    def split(vcol: String, out: String) =
      expr(s"transform(sequence(0, ${m - 1}), s -> " +
        s"struct(s AS s, slice($vcol, s * $subDim + 1, $subDim) AS $out))")
    val subs = e
      .select(col("vec_id"), col("label"), explode(split("v", "sv")).as("x"))
      .select(col("vec_id"), col("label"), col("x.s").as("s"),
        col("x.sv").as("sv"))
    val cb = subs.filter(col("vec_id") < nc)
      .select(col("s"), col("vec_id").cast("int").as("c"),
        col("sv").as("cent"))
    // encode: quantized L2² argmin per (vector, subspace); the
    // expanded dot form matches the oracle's list_dot_product shape
    // greatest(·, 0): identity on every mathematically possible
    // input (d2q is a squared L2 distance) — guards the packing
    // against an FP-rounded negative, which would corrupt the packed
    // argmin and the `% 16` decode (r19, ADVICE item 2). Overflow
    // headroom: d2q ≤ Long.Max/16 needs ‖sv−cent‖² ≤ ~7.2e10 at the
    // 1e6 fixed-point factor — subvector norms up to ~2.7e5, far
    // above any real embedding (PackedArgminSpec).
    val d2q = greatest(round((expr(dotS("sv", "sv")) -
      expr(dotS("sv", "cent")) * 2 + expr(dotS("cent", "cent"))) *
      lit(1000000.0)).cast("long"), lit(0L))
    // r18: the argmin used to be min_by(c, struct(d2q, c)) — a STRUCT
    // aggregation buffer, which forces the SortAggregate fallback
    // (HashAggregate needs mutable buffer types). d2q is a rounded
    // L2² — provably non-negative — and c < nc = 16, so (d2q, c)
    // lexicographic order IS the numeric order of d2q*16 + c: one
    // plain min() over a BIGINT, hash-aggregated with map-side
    // combine, bit-identical argmin and tie-break.
    val codes = subs.join(broadcast(cb), "s")
      .select(col("vec_id"), col("label"), col("s"),
        (d2q * lit(16L) + col("c")).as("packed"))
      .groupBy(col("vec_id"), col("label"), col("s"))
      .agg((min(col("packed")) % 16).cast("int").as("c"))
    val qsub = query
      .select(col("embedding").cast("array<double>").as("qv"))
      .select(explode(split("qv", "qsv")).as("x"))
      .select(col("x.s").as("s"), col("x.qsv").as("qsv"))
    val lut = cb.join(qsub, "s")
      .select(col("s"), col("c"),
        round(expr(dotS("cent", "qsv")) * lit(10000.0)).cast("long")
          .as("pdq"))
    codes.join(broadcast(lut), Seq("s", "c"))
      .groupBy(col("vec_id"), col("label"))
      .agg(expr("array_join(transform(array_sort(collect_list(" +
        "struct(s, c))), t -> cast(t.c as string)), '|')").as("codes"),
        sum(col("pdq")).as("ascore_q"))
      .orderBy(col("ascore_q").desc, col("vec_id")).limit(k)
  }

  /** N_SIM9 — two-stage retrieval (the refine step of FAISS IVFPQ):
    * stage 1 scans the COMPRESSED domain ([[pqTopK]]'s ADC scores —
    * m LUT adds per candidate, the full-precision vectors never
    * touched) and keeps the top `c` candidates; stage 2 re-ranks only
    * those `c` against the raw vectors with exact cosine and returns
    * the top `k`. This is the standard recall-repair architecture:
    * ADC's quantization error decides at most which of the `c`
    * survivors win, not the final ordering.
    *
    * Scale: stage 1 is the PQ scan (broadcast LUT, map-only adds);
    * stage 2 touches `c` rows — a broadcast semi-join back to the
    * vector store, O(c) exact scores however large the corpus.
    */
  def pqRerankTopK(embeddings: DataFrame, query: DataFrame, k: Int = 10,
      c: Int = 50, m: Int = 8, subDim: Int = 8): DataFrame = {
    val cand = pqTopK(embeddings, query, c, m, subDim)
      .select(col("vec_id"), col("ascore_q"))
    val q = broadcast(query
      .select(col("embedding").cast("array<double>").as("qv")))
    embeddings
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
      .join(broadcast(cand), "vec_id")
      .crossJoin(q)
      .select(col("vec_id"), col("label"), col("ascore_q"),
        (round(cosineNative(embeddings, "v", "qv"), 4) + lit(0.0))
          .as("score_r"))
      .orderBy(col("score_r").desc, col("vec_id"))
      .limit(k)
  }

  /** N_DEDUP9 — SemDeDup (Abbas et al. 2023): semantic deduplication
    * by clustering embeddings and removing near-duplicates WITHIN each
    * cluster. Cluster assignment uses a deterministic `nc`-entry
    * codebook (the `nc` lowest-id vectors; kmeans-trained centroids
    * from [[kmeansIter]] plug into the same shape), candidate pairs
    * are cluster-blocked — the paper's whole point: pairwise cosine
    * only inside a cluster, never across the corpus — and a vector is
    * removed when a LOWER-id cluster-mate scores ≥ `tau` (greedy
    * min-id keeper, deterministic).
    *
    * Scale: the codebook broadcasts (KB), assignment is a map-only
    * quantized-L2 argmin, and the pair join is keyed on `cell` — at
    * 100 TB the O(n²) all-pairs shape never appears; cost is
    * Σ O(cell²) with cells sized by the codebook.
    *
    * `vec_id` names a vector: the assignment aggregates per id and
    * re-joins the embeddings on it, so a repeated id would multiply
    * that vector's pairs. Repeated ids are refused (one eager
    * aggregate over the ids).
    *
    * @return one row per REMOVED vector: (vec_id, cell, keeper_id =
    *         lowest-id duplicate partner, n_dup_partners).
    */
  def semDedup(embeddings: DataFrame, nc: Int = 8,
      tau: Double = 0.4): DataFrame = {
    val repeated = embeddings.groupBy(col("vec_id")).count()
      .filter(col("count") > 1).select(col("vec_id")).limit(3).collect()
    require(repeated.isEmpty, "semDedup needs unique vec_id values; " +
      s"repeated: ${repeated.map(_.get(0)).mkString(", ")}")
    val e = embeddings.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    val cb = e.filter(col("vec_id") < nc)
      .select(col("vec_id").cast("int").as("cell"), col("v").as("cent"))
    // quantized-L2 argmin (fixed-point BIGINT before the min_by, cell
    // tie-break) — the same determinism discipline as PQ encoding; the
    // expanded dot form matches the oracle's list_dot_product shape
    // Clamp before packing (r19, ADVICE): d2q is mathematically ≥ 0
    // (a squared L2 distance), but the expanded FP form a·a − 2a·b +
    // b·b can round to a small negative for near-identical
    // large-norm vectors, and a negative packed key would corrupt
    // both the argmin and the `% nc` decode. greatest(·, 0) is the
    // identity on every mathematically possible input. Overflow
    // headroom: packing needs d2q ≤ Long.Max/nc ≈ 1.15e18/nc; with
    // the 1e6 fixed-point factor that bounds ‖v−cent‖² ≤ ~1.15e11,
    // i.e. coordinate norms up to ~10⁵ at dim 64 — far above any
    // real embedding (PackedArgminSpec pins the equivalence).
    val d2q = greatest(round((dot("v", "v") - dot("v", "cent") * 2 +
      dot("cent", "cent")) * lit(1000000.0)).cast("long"), lit(0L))
    // r18: argmin as ONE packed BIGINT min (d2q ≥ 0, cell < nc, so
    // (d2q, cell) lexicographic = numeric order of d2q*nc + cell) —
    // hash-aggregated instead of the struct-buffered min_by's
    // SortAggregate fallback.
    // r19: the vector payload no longer rides the aggregate — a
    // first(v) over array<double> is itself a non-mutable buffer, so
    // HashAggregateExec still refused and the assignment stayed a
    // SortAggregate (two full sorts of the vec×centroid stream at
    // scale). The aggregate now carries ONLY the packed BIGINT
    // (hash-aggregable, map-side partials) and the winning cell
    // re-joins the embedding relation on vec_id — a single
    // shuffled-hash join building the small (vec_id, cell) side,
    // probe side exchanged once on vec_id, no sorts anywhere.
    val assigned = e.crossJoin(broadcast(cb))
      .select(col("vec_id"), col("cell"), d2q.as("d2q"))
      .groupBy(col("vec_id"))
      .agg((min(col("d2q") * nc + col("cell")) % nc).cast("int")
        .as("cell"))
      .hint("shuffle_hash")
      .join(e, Seq("vec_id"))
      .select(col("vec_id"), col("cell"), col("v"))
    val a = assigned.select(col("cell"), col("vec_id").as("id_a"),
      col("v").as("va"))
    val b = assigned.select(col("cell"), col("vec_id").as("id_b"),
      col("v").as("vb"))
    a.join(b, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("score_r",
        round(cosineNative(embeddings, "va", "vb"), 4) + lit(0.0))
      .filter(col("score_r") >= tau)
      .groupBy(col("id_b").as("vec_id"), col("cell"))
      .agg(min(col("id_a")).as("keeper_id"),
        count(lit(1)).as("n_dup_partners"))
      .orderBy(col("vec_id"))
  }
}
