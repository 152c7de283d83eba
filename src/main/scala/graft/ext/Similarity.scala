package graft.ext

import graft.functions.VectorFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Vector-similarity operators over an `array<float>` embedding column.
  *
  * Cosine is computed in double with a strictly sequential fold, so the
  * arithmetic is bit-reproducible and the DuckDB oracle replays it
  * exactly. The fold runs in the custom codegen'd
  * [[graft.functions.DotProduct]] expression (a tight JVM loop) rather
  * than interpreted zip_with/aggregate trees; norms are computed once
  * per vector *before* any pairwise join, never per pair.
  *
  * Scale notes: brute-force top-k broadcasts the (small) query set and
  * scans candidates once — a map-only plan plus one shuffle for the
  * per-query top-k window; the LSH variant buckets candidates by
  * random-hyperplane signs so each bucket's candidate set is a tiny
  * fraction of the corpus (the IVF-style route at 10^9 vectors).
  */
object Similarity {

  /** Sequential-fold dot product in double (codegen expression). */
  def dot(a: Column, b: Column): Column = VectorFunctions.dot(a, b)

  def norm2(a: Column): Column = dot(a, a)

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / sqrt(norm2(a) * norm2(b))

  /** id/vec/precomputed-norm projection — norms are per-vector, done
    * before joins so no pair recomputes them. */
  private def withNorm(df: DataFrame, idCol: String, vecCol: String,
      idAs: String, vecAs: String, nrmAs: String): DataFrame =
    df.select(col(idCol).as(idAs), col(vecCol).as(vecAs),
      norm2(col(vecCol)).as(nrmAs))

  /** Zero-shuffle nearest-cell assignment — the coarse-quantizer step
    * shared by IVF, IVF-PQ, k-means and SemDeDup.
    *
    * The centroid table collapses to ONE array-of-structs row (sorted
    * ascending by cent_id — the tie-break order), rides a broadcast to
    * every corpus partition, and the codegen'd
    * [[graft.functions.NearestCentroid]] kernel folds over it inside
    * the scan projection: argmax cosine, ties to the lowest id,
    * numerically identical to exploding (vector × centroid) pairs and
    * ranking with `row_number` — but with no ×nCells row expansion and
    * NO shuffle of the corpus (at 10^9 vectors the exploded variant
    * shuffles nCells full-vector copies per row just to pick a max).
    *
    * `cents` must carry (cent_id, _centv, _centn = ‖_centv‖²). Output =
    * `vectors`' columns + `_cell` (winning centroid id, long) + `_csim`
    * (cosine to it). */
  private[graft] def assignCells(vectors: DataFrame, cents: DataFrame,
      vecCol: String): DataFrame = {
    val packed = cents.agg(sort_array(collect_list(struct(
      col("cent_id").cast("long").as("id"), col("_centv").as("v"),
      col("_centn").as("n")))).as("_cents"))
    val keep = vectors.columns.map(col)
    vectors.crossJoin(broadcast(packed))
      .withColumn("_asg",
        VectorFunctions.nearestCentroid(col(vecCol), col("_cents")))
      .select(keep :+ col("_asg").getField("cell").as("_cell")
        :+ col("_asg").getField("sim").as("_csim"): _*)
  }

  /** The deterministic coarse quantizer shared by the whole IVF family:
    * the first `nCells` corpus vectors by ascending id, projected to
    * (cent_id, _centv, _centn = ‖v‖²). Pinning the convention (instead
    * of a random init) is what lets an external engine rebuild the
    * identical quantizer from the data alone; [[pqTrainCodebook]]
    * refines from exactly this start. */
  def coarseCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      nCells: Int): DataFrame =
    corpus.orderBy(col(idCol).asc).limit(nCells)
      .select(col(idCol).as("cent_id"), col(vecCol).as("_centv"),
        norm2(col(vecCol)).as("_centn"))

  /** Densify a `(_cb, _cv)` codebook to ascending-id rank order so a
    * PQ code indexes its per-subspace ADC block positionally (trained
    * codebooks can drop cells and leave id gaps). Tiny table: the rank
    * window's single-partition pass is nCodewords rows, never corpus
    * data. */
  private def densifyCodebook(codebook: DataFrame): DataFrame =
    codebook
      .select(col("_cb").cast("long").as("_cbOrig"),
        col("_cv").cast("array<double>").as("_cv"))
      .withColumn("_cb",
        (row_number().over(Window.orderBy(col("_cbOrig"))) - 1).cast("long"))
      .select(col("_cb"), col("_cv"))

  /** One IVF-PQ index fragment over `corpus` against a FROZEN quantizer
    * and codebook: (n_id, cell, codes) — one long plus nSub small ints
    * per vector, the at-rest shape a 10^9-vector index stores
    * (partitioned by cell). Assignment is the zero-shuffle
    * [[assignCells]] broadcast fold; encoding is the broadcast-codebook
    * map-side argmin of [[pqEncodeWith]] — nothing here shuffles the
    * corpus beyond the one slim encode aggregation. */
  private def pqIndex(corpus: DataFrame, idCol: String, vecCol: String,
      cbDense: DataFrame, cents: DataFrame, nSub: Int,
      dim: Int): DataFrame = {
    val assigned = assignCells(
      corpus.select(col(idCol).as("n_id"), col(vecCol).as("_cv")),
      cents, "_cv")
      .select(col("n_id"), col("_cell"))
    pqEncodeWith(corpus, idCol, vecCol, cbDense, nSub, dim)
      .select(col("_id").as("n_id"), col("codes"))
      .join(assigned, "n_id")
      .select(col("n_id"), col("_cell").as("cell"), col("codes"))
  }

  /** Exact top-k neighbors for each query vector (brute force — the
    * correctness baseline). Queries are broadcast; rank ties broken by
    * candidate id. */
  def bruteForceTopK(queries: DataFrame, candidates: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = withNorm(queries, idCol, vecCol, "q_id", "_qv", "_qn")
    val c = withNorm(candidates, idCol, vecCol, "n_id", "_cv", "_cn")
    val scored = c.crossJoin(broadcast(q))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("cos",
        dot(col("_qv"), col("_cv")) / sqrt(col("_qn") * col("_cn")))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("n_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("n_id"), col("rank"))
  }

  /** Near-dup pairs with cosine ≥ threshold, banded-LSH candidates.
    *
    * Candidate generation is `nBands` independent sign-LSH bands of
    * `planesPerBand` hyperplanes each: a pair is a candidate iff it
    * shares a full bucket in ≥1 band (recall 1-(1-p^r)^B, p =
    * 1-θ/π — e.g. ≈0.75 at cos 0.4 with 8×4, higher for closer
    * pairs). Candidates are verified with the exact cosine — no false
    * positives. The join is an equi-join on (band, bucket): slim
    * shuffle keys, no cartesian product, the shape that survives 100 TB.
    * Everything is deterministic (seeded literal planes), so an external
    * engine replaying the same planes computes the identical pair set.
    */
  def cosineNearDupPairs(vectors: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nBands: Int = 8, planesPerBand: Int = 4,
      dim: Int = 64, seed: Long = 7L): DataFrame = {
    val planes = bandPlanes(nBands, planesPerBand, dim, seed)
    val n = withNorm(vectors, idCol, vecCol, "_id", "_v", "_n")
    val bands = array(planes.zipWithIndex.map { case (band, b) =>
      val bucket = band.zipWithIndex.map { case (p, i) =>
        when(dot(col("_v"), array(p.map(lit): _*)) > 0, lit(1 << i))
          .otherwise(lit(0))
      }.reduce(_ + _)
      struct(lit(b).as("band"), bucket.as("bucket"))
    }: _*)
    // candidate rows are SLIM (id, band, bucket): the vectors must not
    // ride through the pair join/dedup shuffle — with b buckets per
    // band the join emits O(n²/b) rows per band, and at 64 floats per
    // side that is a multi-GB shuffle the 16-byte id-pair rows avoid
    // (same discipline as Dedup.minHashLshPairsPortable)
    val banded = n.withColumn("_bb", explode(bands))
      .select(col("_id"),
        col("_bb.band").as("_band"), col("_bb.bucket").as("_bucket"))
    val cand = banded.select(col("_id").as("vec_a"), col("_band"),
        col("_bucket"))
      .join(banded.select(col("_id").as("vec_b"), col("_band"),
        col("_bucket")), Seq("_band", "_bucket"))
      .filter(col("vec_a") < col("vec_b"))
      .select("vec_a", "vec_b")
      .distinct() // a pair matching in several bands collides once per band
    // verify: attach vectors only to the surviving candidate pairs,
    // score each exactly once
    cand
      .join(n.select(col("_id").as("vec_a"), col("_v").as("_va"),
        col("_n").as("_na")), Seq("vec_a"))
      .join(n.select(col("_id").as("vec_b"), col("_v").as("_vb"),
        col("_n").as("_nb")), Seq("vec_b"))
      .withColumn("cos",
        dot(col("_va"), col("_vb")) / sqrt(col("_na") * col("_nb")))
      .filter(col("cos") >= threshold)
      .select(col("vec_a"), col("vec_b"), col("cos"))
  }

  /** All pairs with cosine ≥ threshold — EXACT but O(n²): a true cross
    * join, only for small corpora (re-ranking a candidate subset,
    * validation runs). The banded [[cosineNearDupPairs]] is the
    * at-scale default. */
  def cosineNearDupPairsExact(vectors: DataFrame, idCol: String,
      vecCol: String, threshold: Double): DataFrame = {
    val a = withNorm(vectors, idCol, vecCol, "vec_a", "_va", "_na")
    val b = withNorm(vectors, idCol, vecCol, "vec_b", "_vb", "_nb")
    a.crossJoin(b)
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cos",
        dot(col("_va"), col("_vb")) / sqrt(col("_na") * col("_nb")))
      .filter(col("cos") >= threshold)
      .select(col("vec_a"), col("vec_b"), col("cos"))
  }

  /** The deterministic plane constants behind [[cosineNearDupPairs]]:
    * band b uses planes [b*r, (b+1)*r) of one seeded Gaussian stream.
    * Public so oracle SQL can embed the identical literals. */
  def bandPlanes(nBands: Int, planesPerBand: Int, dim: Int,
      seed: Long): Seq[Seq[Array[Double]]] =
    hyperplanes(nBands * planesPerBand, dim, seed)
      .grouped(planesPerBand).toSeq

  /** Deterministic pseudo-random hyperplanes (fixed seed), embedded as
    * literal arrays so the plan is a constant — no data dependency. */
  private def hyperplanes(nPlanes: Int, dim: Int, seed: Long): Seq[Array[Double]] = {
    val r = new scala.util.Random(seed)
    Seq.fill(nPlanes)(Array.fill(dim)(r.nextGaussian()))
  }

  /** Random-hyperplane (sign) LSH bucket id: bit i = sign(v · plane_i).
    * Vectors in the same bucket are cosine-close with high probability;
    * the bucket join replaces the O(n²) cross join. */
  def lshBucket(vec: Column, nPlanes: Int, dim: Int, seed: Long = 7L): Column = {
    val planes = hyperplanes(nPlanes, dim, seed)
    planes.zipWithIndex.map { case (p, i) =>
      val planeCol = array(p.map(lit): _*)
      when(dot(vec, planeCol) > 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
  }

  /** Multi-probe LSH top-k: each query probes its own sign-LSH bucket
    * PLUS every bucket at Hamming distance 1 (one flipped hyperplane
    * sign — the buckets a near-boundary neighbor most likely fell
    * into). Classic multi-probe recall lift (Lv et al., VLDB 2007)
    * with no extra hash tables: the probe set explodes query-side
    * (tiny), candidates keep one bucket each, and the probe join stays
    * an equi-join on the bucket key. Probe buckets are distinct, so
    * no candidate is scored twice. Deterministic planes → the oracle
    * replays buckets, probe flips, and exact within-probe ranks. */
  def lshTopKMultiProbe(queries: DataFrame, candidates: DataFrame,
      idCol: String, vecCol: String, k: Int, nPlanes: Int = 8,
      dim: Int = 64, probeBits: Int = 8): DataFrame = {
    require(probeBits <= nPlanes)
    val q = withNorm(queries, idCol, vecCol, "q_id", "_qv", "_qn")
      .withColumn("_b", lshBucket(col("_qv"), nPlanes, dim))
      .withColumn("_bucket", explode(array(
        (lit(0L) +: (0 until probeBits).map(i => lit(1L << i))).map(m =>
          col("_b").bitwiseXOR(m)): _*)))
    val c = withNorm(candidates, idCol, vecCol, "n_id", "_cv", "_cn")
      .withColumn("_bucket", lshBucket(col("_cv"), nPlanes, dim))
    val scored = c.join(broadcast(q), Seq("_bucket"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("cos",
        dot(col("_qv"), col("_cv")) / sqrt(col("_qn") * col("_cn")))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("n_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("n_id"), col("rank"))
  }

  /** Exact top-k through the custom whole-operator plan
    * (graft.plans.SimilarityTopK → SimilarityTopKExec): bounded
    * per-partition heaps, zero shuffle — same results (and the same
    * DuckDB oracle) as bruteForceTopK, different physical strategy.
    * Requires GraftExtensions on the session. */
  def topKPlanned(queries: DataFrame, candidates: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    // The exec reads vectors with toFloatArray — an array<double> input
    // would silently reinterpret 8-byte lanes as floats. Normalize any
    // numeric-array input to the array<float> contract up front.
    val asFloat = org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.FloatType)
    val q = queries.select(col(idCol), col(vecCol).cast(asFloat).as(vecCol))
    val c = candidates.select(col(idCol), col(vecCol).cast(asFloat).as(vecCol))
    org.apache.spark.sql.graftbridge.ColumnBridge.ofRows(
      queries.sparkSession,
      graft.plans.SimilarityTopK(k, q.queryExecution.logical,
        c.queryExecution.logical))
  }

  /** IVF-style approximate top-k: a coarse quantizer of `nCells`
    * deterministic centroids (the first nCells corpus vectors) assigns
    * every vector to its nearest cell (one broadcast pass); queries
    * probe their `nProbe` nearest cells and rank exactly within them.
    * At 10^9 vectors this scans nProbe/nCells of the corpus per query;
    * the inverted lists are just a `_cell` column, so they partition,
    * bucket, and prune like any other key. */
  def ivfTopK(queries: DataFrame, candidates: DataFrame, idCol: String,
      vecCol: String, k: Int, nCells: Int = 16, nProbe: Int = 2): DataFrame = {
    val cents = coarseCentroids(candidates, idCol, vecCol, nCells)
    // corpus-side assignment: zero-shuffle broadcast-array fold (the
    // probe side below keeps its window — query-cardinality-tiny)
    val assigned = assignCells(
      withNorm(candidates, idCol, vecCol, "n_id", "_cv", "_cn"),
      cents, "_cv")
      .select(col("n_id"), col("_cv"), col("_cn"), col("_cell"))
    val probeRank = Window.partitionBy(col("q_id"))
      .orderBy(col("_csim").desc, col("cent_id").asc)
    val probes = withNorm(queries, idCol, vecCol, "q_id", "_qv", "_qn")
      .crossJoin(broadcast(cents))
      .withColumn("_csim",
        dot(col("_qv"), col("_centv")) / sqrt(col("_qn") * col("_centn")))
      .withColumn("_pr", row_number().over(probeRank))
      .filter(col("_pr") <= nProbe)
      .select(col("q_id"), col("_qv"), col("_qn"),
        col("cent_id").cast("long").as("_cell"))
    val scored = assigned.join(broadcast(probes), Seq("_cell"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("cos",
        dot(col("_qv"), col("_cv")) / sqrt(col("_qn") * col("_cn")))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("n_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("n_id"), col("rank"))
  }

  /** Incremental IVF index maintenance: assign a DELTA batch of new
    * vectors to the EXISTING (frozen) coarse quantizer — the daily
    * index-upsert path, where re-training/re-assigning the 10^9-vector
    * base for every arriving batch would be absurd. Centroids follow
    * the same deterministic first-`nCells`-by-id convention as
    * [[ivfTopK]], so base and delta land in consistent cells and the
    * whole operation replays in an external engine.
    *
    * Both assignment passes are the zero-shuffle [[assignCells]]
    * broadcast fold; the only shuffles are the two map-side-combinable
    * per-cell counts plus the cells-cardinality-tiny full outer join.
    * Returns per-cell occupancy (cell, n_base, n_delta, n_total) — the
    * monitoring surface that tells an operator when delta skew says
    * it's time to re-train the quantizer. */
  def ivfUpsert(base: DataFrame, delta: DataFrame, idCol: String,
      vecCol: String, nCells: Int = 16): DataFrame = {
    val cents = coarseCentroids(base, idCol, vecCol, nCells)
    def cellCounts(df: DataFrame, as: String) =
      assignCells(withNorm(df, idCol, vecCol, "n_id", "_cv", "_cn"),
        cents, "_cv")
        .groupBy(col("_cell").as("cell")).agg(count(lit(1)).as(as))
    cellCounts(base, "n_base")
      .join(cellCounts(delta, "n_delta"), Seq("cell"), "full_outer")
      .select(col("cell"),
        coalesce(col("n_base"), lit(0L)).as("n_base"),
        coalesce(col("n_delta"), lit(0L)).as("n_delta"),
        (coalesce(col("n_base"), lit(0L))
          + coalesce(col("n_delta"), lit(0L))).as("n_total"))
  }

  /** Combined IVF-PQ search — the canonical 10^9-vector index shape
    * (Jégou et al.): candidates live in the index as (cell, codes) —
    * one int plus nSub bytes per vector — queries probe their
    * `nProbe` nearest cells and ADC-rank only the codes in those
    * cells. vs [[pqAdcTopK]] this prunes the scan to nProbe/nCells of
    * the corpus; vs [[ivfTopK]] the probed rows are codes, not raw
    * vectors. The probe is an equi-join on the cell key with the tiny
    * (probe × ADC-table) side broadcast: partition the index by cell
    * and the probe never shuffles the corpus.
    *
    * Production IVF-PQ encodes residuals v − centroid(cell) against
    * trained codebooks; this uses raw-vector PQ and the deterministic
    * first-k codebook convention so the DuckDB oracle can replay the
    * index build bit-for-bit — the plan shape is identical either way.
    */
  def ivfPqTopK(queries: DataFrame, candidates: DataFrame, idCol: String,
      vecCol: String, k: Int, nCells: Int = 16, nProbe: Int = 2,
      nSub: Int = 8, nCodewords: Int = 16, dim: Int = 64): DataFrame =
    ivfPqTopKWith(queries, candidates, idCol, vecCol, k,
      candidates.select(col(idCol).as("_cb"),
          col(vecCol).cast("array<double>").as("_cv"))
        .filter(col("_cb") < nCodewords),
      nCells, nProbe, nSub, nCodewords, dim)

  /** [[ivfPqTopK]] against an EXPLICIT PQ codebook (`(_cb, _cv)` rows,
    * typically [[pqTrainCodebook]]'s trained centroids) — the full
    * train → encode → probe composition. The coarse quantizer stays
    * the deterministic first-`nCells` convention; codes and per-query
    * ADC tables use the supplied codebook, densified to ascending-id
    * rank order so a code indexes its per-subspace ADC block
    * positionally (cell-dropout in training would otherwise leave id
    * gaps). Precondition: exactly `nCodewords` codebook rows — the ADC
    * lookup fold is compiled statically against that layout. */
  def ivfPqTopKWith(queries: DataFrame, candidates: DataFrame,
      idCol: String, vecCol: String, k: Int, codebook: DataFrame,
      nCells: Int = 16, nProbe: Int = 2, nSub: Int = 8,
      nCodewords: Int = 16, dim: Int = 64): DataFrame = {
    val cents = coarseCentroids(candidates, idCol, vecCol, nCells)
    val index = pqIndex(candidates, idCol, vecCol,
      densifyCodebook(codebook), cents, nSub, dim)
    ivfPqProbeIndex(queries, index, cents, codebook, idCol, vecCol, k,
      nProbe, nSub, nCodewords, dim)
  }

  /** Merged PROBEABLE incremental IVF-PQ index over base ∪ delta — the
    * growing-corpus maintenance path [[ivfUpsert]]'s occupancy dashboard
    * monitors. The coarse quantizer is FROZEN on the base (first-`nCells`
    * by id — re-deriving it per arriving batch would reassign the
    * 10^9-vector base daily) and the codebook is the caller's (typically
    * [[pqTrainCodebook]] trained once on the base); the delta is encoded
    * against both and the fragments union into one (n_id, cell, codes)
    * index that [[ivfPqProbeIndex]] searches directly.
    *
    * Because assignment and encoding are per-row map transforms against
    * frozen broadcast state, the merged index is IDENTICAL to an index
    * built from scratch on base ∪ delta with the same quantizer and
    * codebook (spec-pinned) — union commutes with the maps, so N daily
    * upserts never drift from a full rebuild. Scale shape: the union is
    * plan-level (no shuffle); each fragment costs one corpus scan plus
    * the slim per-vector encode aggregation; in storage terms the delta
    * fragment is simply appended to the cell-partitioned index. */
  def ivfPqUpsertIndex(base: DataFrame, delta: DataFrame, idCol: String,
      vecCol: String, codebook: DataFrame, nCells: Int = 16,
      nSub: Int = 8, dim: Int = 64): DataFrame = {
    val cents = coarseCentroids(base, idCol, vecCol, nCells)
    ivfPqIndexFragment(base, idCol, vecCol, codebook, cents, nSub, dim)
      .unionByName(
        ivfPqIndexFragment(delta, idCol, vecCol, codebook, cents, nSub, dim))
  }

  /** One (n_id, cell, codes) index fragment over `corpus` against an
    * explicit frozen quantizer + codebook — the unit of incremental
    * index maintenance ([[ivfPqUpsertIndex]] is two of these unioned;
    * [[graft.streaming.AnnIndexMaintenance]] appends one per
    * micro-batch). Map-only against broadcast state except the one
    * slim per-vector encode aggregation. */
  def ivfPqIndexFragment(corpus: DataFrame, idCol: String, vecCol: String,
      codebook: DataFrame, cents: DataFrame, nSub: Int = 8,
      dim: Int = 64): DataFrame =
    pqIndex(corpus, idCol, vecCol, densifyCodebook(codebook), cents,
      nSub, dim)

  /** ADC probe over an EXPLICIT (n_id, cell, codes) index (as emitted
    * by [[ivfPqUpsertIndex]]) — the search half of [[ivfPqTopKWith]]
    * decoupled from the index build, so a stored/incrementally-merged
    * index is queried without re-encoding the corpus. `cents` must be
    * the quantizer the index was built with ([[coarseCentroids]]'
    * (cent_id, _centv, _centn) shape) and `codebook` its `(_cb, _cv)`
    * codebook; precondition: exactly `nCodewords` codebook rows — the
    * ADC lookup fold is compiled statically against that layout.
    *
    * Plan: queries cross the broadcast quantizer to pick `nProbe`
    * cells, per-query ADC tables build against the broadcast codebook,
    * and the index is scanned ONCE with an equi-join on the cell key
    * (tiny probe × ADC side broadcast) — partition the stored index by
    * cell and the probe reads only the probed cells' codes, never raw
    * vectors. */
  def ivfPqProbeIndex(queries: DataFrame, index: DataFrame,
      cents: DataFrame, codebook: DataFrame, idCol: String,
      vecCol: String, k: Int, nProbe: Int = 2, nSub: Int = 8,
      nCodewords: Int = 16, dim: Int = 64): DataFrame = {
    val sub = dim / nSub
    val cbDense = densifyCodebook(codebook)
    val probeRank = Window.partitionBy(col("q_id"))
      .orderBy(col("_csim").desc, col("cent_id").asc)
    val probes = withNorm(queries, idCol, vecCol, "q_id", "_qv", "_qn")
      .crossJoin(broadcast(cents))
      .withColumn("_csim",
        dot(col("_qv"), col("_centv")) / sqrt(col("_qn") * col("_centn")))
      .withColumn("_pr", row_number().over(probeRank))
      .filter(col("_pr") <= nProbe)
      .select(col("q_id"), col("_qv"), col("cent_id").cast("long").as("_cell"))
    val qtab = adcTables(
      probes.select(col("q_id"), col("_qv")).distinct()
        .select(col("q_id"), col("_qv").cast("array<double>").as("_qv")),
      cbDense, nSub, sub, nCodewords, "ivfPqProbeIndex")
    val scored = index.select(col("n_id"), col("cell").as("_cell"), col("codes"))
      .join(broadcast(probes.select(col("q_id"), col("_cell"))
        .join(qtab, "q_id")), Seq("_cell"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("dist", (0 until nSub).foldLeft(lit(0.0))((acc, j) =>
        acc + element_at(col("_tab"),
          lit(j * nCodewords) + element_at(col("codes"), j + 1) + 1)))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("dist").asc, col("n_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("n_id"), col("rank"))
  }

  /** Two-stage retrieval — the shape every production vector store
    * runs (FAISS/ScaNN deployments; Jégou et al. 2011 §VI re-ranking):
    * stage 1 probes the compressed index for a WIDE candidate set
    * ([[ivfPqTopK]]'s ADC top-`m`, m ≥ k — cell-pruned, codes only),
    * stage 2 re-ranks JUST those ≤ m·|Q| candidates with the exact
    * cosine and keeps top-`k`. ADC quantization distortion costs
    * recall; exact re-ranking recovers most of it while touching raw
    * vectors for only the candidate rows — the candidate ids are
    * BROADCAST onto the corpus so the exact pass is a semi-join-shaped
    * probe of the vector column, never a corpus×queries score
    * (plan-pinned: the only Window in stage 2 ranks the bounded
    * candidate frame). Recall lift vs the raw ADC ranking is measured
    * per query in the q187 catalog dashboard. */
  def twoStageTopK(queries: DataFrame, candidates: DataFrame,
      idCol: String, vecCol: String, k: Int, m: Int,
      nCells: Int = 16, nProbe: Int = 2, nSub: Int = 8,
      nCodewords: Int = 16, dim: Int = 64): DataFrame = {
    require(m >= k, s"stage-1 candidate depth m=$m must be >= k=$k")
    val cand = ivfPqTopK(queries, candidates, idCol, vecCol, k = m,
      nCells, nProbe, nSub, nCodewords, dim)
      .select(col("q_id"), col("n_id"))
    val qn = withNorm(queries, idCol, vecCol, "q_id", "_qv", "_qn")
    val cn = withNorm(candidates, idCol, vecCol, "n_id", "_nv", "_nn")
    val scored = cn.join(broadcast(cand), "n_id")
      .join(broadcast(qn), "q_id")
      .withColumn("_sim",
        dot(col("_qv"), col("_nv")) / sqrt(col("_qn") * col("_nn")))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("_sim").desc, col("n_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("n_id"), col("rank"))
  }

  /** Residual IVF-ADC top-k — the full production formulation (Jégou
    * et al., TPAMI 2011): the index stores PQ codes of CELL RESIDUALS
    * (v − centroid(cell), via [[pqEncodeResidual]]), and a query
    * probing cell c searches with ITS residual q − centroid(c). The
    * ADC lookup tables are therefore per (query, probed cell) — nProbe×
    * more table rows than the raw-vector probe, still a tiny broadcast
    * (nProbe · nSub · nCodewords doubles per query) — and the corpus
    * side is unchanged: codes only, one equi-join on the cell key,
    * distances are nSub array lookups per candidate. Because residuals
    * concentrate near the origin, the same codeword budget quantizes
    * far less variance than raw-vector PQ — the accuracy rationale for
    * this being the shape production IVF-PQ systems ship.
    *
    * `codebook` must live in residual space (e.g. [[cellResiduals]] of
    * a sample, or [[pqTrainCodebookFrom]] on residuals); it is
    * densified to rank order so codes index ADC blocks positionally.
    * Precondition: exactly `nCodewords` codebook rows — a trained
    * codebook that lost an empty cell would shift every positional
    * block, so the plan carries a runtime cardinality guard that
    * errors instead of returning silently wrong distances.
    * Deterministic end to end (first-`nCells` quantizer, pinned
    * tie-breaks, j-ordered distance folds), so the full rank surface
    * replays in an external engine (q139). */
  def ivfPqResidualTopKWith(queries: DataFrame, candidates: DataFrame,
      idCol: String, vecCol: String, k: Int, codebook: DataFrame,
      nCells: Int = 8, nProbe: Int = 2, nSub: Int = 8,
      nCodewords: Int = 16, dim: Int = 64): DataFrame = {
    val sub = dim / nSub
    val cents = coarseCentroids(candidates, idCol, vecCol, nCells)
    val cbDense = densifyCodebook(codebook)
    val index = pqEncodeResidual(candidates, idCol, vecCol, cbDense,
        cents, nSub, dim)
      .select(col("_id").as("n_id"), col("cell").as("_cell"), col("codes"))
    val probeRank = Window.partitionBy(col("q_id"))
      .orderBy(col("_csim").desc, col("cent_id").asc)
    val probes = withNorm(queries, idCol, vecCol, "q_id", "_qv", "_qn")
      .crossJoin(broadcast(cents))
      .withColumn("_csim",
        dot(col("_qv"), col("_centv")) / sqrt(col("_qn") * col("_centn")))
      .withColumn("_pr", row_number().over(probeRank))
      .filter(col("_pr") <= nProbe)
      .select(col("q_id"), col("cent_id").cast("long").as("_cell"),
        zip_with(col("_qv").cast("array<double>"),
          col("_centv").cast("array<double>"), (a, b) => a - b).as("_qrv"))
    // per-(query, probed-cell) ADC tables from the query RESIDUAL,
    // j-major: entry (j, c) at 1-based index j*nCodewords + c + 1
    val qtab = probes.crossJoin(broadcast(cbDense))
      .select(col("q_id"), col("_cell"), col("_cb"),
        array((0 until nSub).map(j =>
          subL2(col("_qrv"), col("_cv"), j, sub)): _*).as("_ds"))
      .groupBy(col("q_id"), col("_cell"))
      .agg(sort_array(collect_list(struct(col("_cb"), col("_ds")))).as("_s"))
      .select(col("q_id"), col("_cell"),
        guardedAdcFlatten(col("_s"), nSub, nCodewords,
          "ivfPqResidualTopKWith").as("_tab"))
    val scored = index
      .join(broadcast(qtab), Seq("_cell"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("dist", (0 until nSub).foldLeft(lit(0.0))((acc, j) =>
        acc + element_at(col("_tab"),
          lit(j * nCodewords) + element_at(col("codes"), j + 1) + 1)))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("dist").asc, col("n_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("n_id"), col("rank"))
  }

  /** One distributed k-means refinement step: assign every vector to
    * its nearest centroid (same deterministic convention and exact
    * cosine assignment as [[ivfTopK]]), then recompute each cell's
    * centroid as the element-wise mean — the codebook-training inner
    * loop for IVF/PQ indexes, run entirely as one broadcast join plus
    * one map-side-combined aggregation (`dim` long sums per cell, no
    * explode, no second shuffle).
    *
    * Element means are FIXED-POINT: lanes quantize to micro-units
    * (floor(x·1e6 + 0.5), the q53 rounding), sums stay in exact Long
    * arithmetic (order-independent — double sums would round
    * differently under different partitionings), and the mean is
    * floor(s·1000 / n) milli-micro units. Every step is replayable by
    * an external engine; the string join keeps the 64-lane result
    * representation-stable for hashing. */
  def kmeansStep(candidates: DataFrame, idCol: String, vecCol: String,
      nCells: Int = 16, dim: Int = 64): DataFrame = {
    val cents = coarseCentroids(candidates, idCol, vecCol, nCells)
    val assigned = assignCells(
      candidates.select(col(idCol).as("n_id"), col(vecCol).as("_cv")),
      cents, "_cv")
      .select(col("n_id"),
        col("_cv").cast("array<double>").as("_v"), col("_cell").as("cell"))
    val sums = (1 to dim).map(i =>
      sum(floor(element_at(col("_v"), i) * lit(1000000.0) + lit(0.5))
        .cast("long")).as(s"_s$i"))
    assigned.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_members"), sums: _*)
      .select(col("cell"), col("n_members"),
        concat_ws(",", (1 to dim).map(i =>
          floor(col(s"_s$i") * lit(1000.0) / col("n_members"))
            .cast("long").cast("string")): _*).as("centroid_milli"))
  }

  /** The full spherical k-means loop: `iters` rounds of
    * [[pqTrainCodebook]]'s FIXED-POINT training (assign by cosine
    * argmax, means in micro-unit long arithmetic — every round is
    * order-independent, so repeated runs and repartitionings agree
    * bitwise, and an external engine replays the whole loop), then one
    * final assignment against the trained centroids. Lineage is cut
    * per round through the [[Checkpointer]] — the tiny centroid table
    * is what checkpoints, so each iteration costs exactly one corpus
    * scan. Objective Σ cos(v, centroid) is monotone non-decreasing up
    * to the micro-unit quantization of the means (spec-pinned).
    * Returns (n_id, cell, cos_to_centroid). */
  def kmeansIterate(candidates: DataFrame, idCol: String, vecCol: String,
      nCells: Int = 16, iters: Int = 3, dim: Int = 64,
      cp: Checkpointer = LocalCheckpoint): DataFrame = {
    val cents = pqTrainCodebook(candidates, idCol, vecCol, nCells, iters,
      dim, cp)
    assignCells(
      candidates.select(col(idCol).as("n_id"),
        col(vecCol).cast("array<double>").as("_v")),
      cents.select(col("cent_id"), col("_c").as("_centv"),
        norm2(col("_c")).as("_centn")), "_v")
      .select(col("n_id"), col("_cell").as("cell"),
        col("_csim").as("cos_to_centroid"))
  }

  /** Squared L2 over one PQ subspace as a strictly sequential fold
    * (init 0.0, ascending element order), so DuckDB's
    * `list_reduce(list_prepend(0.0, [...]))` replays it bitwise. Both
    * inputs are full vectors; runs in the codegen'd
    * [[graft.functions.SubspaceL2]] kernel (an equivalent
    * `aggregate(sequence(...))` HOF would drop the stage out of
    * whole-stage codegen — the PQ hot path at k x m evals/vector). */
  private def subL2(a: Column, b: Column, j: Int, sub: Int): Column =
    VectorFunctions.subspaceL2(a, b, j * sub, sub)

  /** Product-quantization encode: split each `dim`-vector into `nSub`
    * subspaces and store, per subspace, the id of the nearest codeword
    * — `nSub` small ints instead of `dim` floats (32x at 8x16x64
    * defaults), THE storage shape for 10^9-vector corpora.
    *
    * The codebook is the deterministic convention used by [[ivfTopK]]:
    * codeword c of every subspace is the sub-slice of corpus vector
    * `id = c` (`id < nCodewords` — a pruned k-row scan), so an external
    * engine can rebuild the identical codebook from the data alone.
    * Real deployments would swap in k-means-trained codebooks; the
    * plan shape (tiny broadcast codebook, map-side argmin) is the same.
    *
    * Plan: one broadcast join (k codebook rows per vector) and one
    * partially-aggregated min-struct groupBy — all k rows of a vector
    * sit in its input partition, so the map-side combine collapses
    * them and the shuffle carries one slim row per vector. Ties on
    * distance break to the lowest codeword id (struct comparison),
    * mirrored by the oracle's `ORDER BY d, c` rank.
    *
    * Output: (_id, codes array<int>, err = Σ_j d_j as a pinned
    * left-assoc chain, recon = concatenated chosen codewords).
    * Preconditions: every vector is exactly `dim` long (short vectors
    * would null the subspace folds) and ids 0..nCodewords-1 exist in
    * the corpus (they ARE the codebook). */
  def pqEncode(vectors: DataFrame, idCol: String, vecCol: String,
      nSub: Int = 8, nCodewords: Int = 16, dim: Int = 64): DataFrame = {
    val e = vectors.select(col(idCol).as("_id"),
      col(vecCol).cast("array<double>").as("_v"))
    pqEncodeWith(vectors, idCol, vecCol,
      e.filter(col("_id") < nCodewords)
        .select(col("_id").as("_cb"), col("_v").as("_cv")), nSub, dim)
  }

  /** [[pqEncode]] against an EXPLICIT codebook — `(_cb, _cv)` rows,
    * typically [[pqTrainCodebook]]'s trained centroids (codeword c of
    * subspace j = elements [j·sub, (j+1)·sub) of codebook vector c).
    * Same plan shape as the convention-codebook path: tiny broadcast
    * codebook, map-side-combined min-struct argmin, one slim row per
    * vector through the shuffle. */
  def pqEncodeWith(vectors: DataFrame, idCol: String, vecCol: String,
      codebook: DataFrame, nSub: Int = 8, dim: Int = 64,
      passthrough: Seq[String] = Nil): DataFrame = {
    val sub = dim / nSub
    require(sub * nSub == dim, s"dim $dim not divisible by nSub $nSub")
    val e = vectors.select(col(idCol).as("_id") +:
      col(vecCol).cast("array<double>").as("_v") +:
      passthrough.map(col): _*)
    val cb = codebook.select(col("_cb").cast("long").as("_cb"),
      col("_cv").cast("array<double>").as("_cv"))
    val aggs = (0 until nSub).map { j =>
      min(struct(
        subL2(col("_v"), col("_cv"), j, sub).as("d"),
        col("_cb").as("c"),
        slice(col("_cv"), j * sub + 1, sub).as("w"))).as(s"_m$j")
    }
    // passthrough cols are functionally dependent on the id — adding
    // them to the groupBy threads them through without a second join
    e.crossJoin(broadcast(cb))
      .groupBy(col("_id") +: passthrough.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .select(col("_id") +: passthrough.map(col) :+
        array((0 until nSub).map(j => col(s"_m$j").getField("c")
          .cast("int")): _*).as("codes") :+
        ((0 until nSub).map(j => col(s"_m$j").getField("d"))
          .foldLeft(lit(0.0))(_ + _)).as("err") :+
        flatten(array((0 until nSub).map(j =>
          col(s"_m$j").getField("w")): _*)).as("recon"): _*)
  }

  /** Per-vector cell residuals v − centroid(cell) against a frozen
    * coarse quantizer — the quantity residual PQ encodes (residuals
    * concentrate near the origin, so the codeword budget spends on far
    * smaller variance than raw vectors). Assignment is the
    * zero-shuffle [[assignCells]] fold; the centroid vector rides a
    * broadcast join on the tiny cell key. Returns (_id, cell, _rv). */
  def cellResiduals(vectors: DataFrame, idCol: String, vecCol: String,
      cents: DataFrame): DataFrame =
    assignCells(vectors.select(col(idCol).as("_id"),
        col(vecCol).cast("array<double>").as("_v")), cents, "_v")
      .join(broadcast(cents.select(col("cent_id").cast("long").as("_cell"),
        col("_centv").cast("array<double>").as("_cw"))), Seq("_cell"))
      .select(col("_id"), col("_cell").as("cell"),
        zip_with(col("_v"), col("_cw"), (a, b) => a - b).as("_rv"))

  /** Residual product-quantization encode — the production IVFADC
    * formulation (Jégou et al., TPAMI 2011): PQ-encode the cell
    * residual, not the raw vector. `codebook` must live in residual
    * space (e.g. the residuals of the first nCodewords corpus vectors,
    * or a codebook trained on [[cellResiduals]]). Same plan shape as
    * [[pqEncodeWith]] — broadcast codebook, map-side-combined
    * min-struct argmin, the cell key threaded through the groupBy (no
    * second corpus join). Returns (_id, cell, codes, err).
    *
    * The residuals MUST materialize behind a barrier before the
    * codeword cross join: project-collapse would otherwise inline the
    * zip_with subtraction — and the whole NearestCentroid assignment
    * fold behind it — into every (codeword × subspace) argmin term,
    * re-deriving the assignment ~nCodewords·nSub times per vector
    * (measured 10× wall-clock on the sf0.1 corpus). The barrier is a
    * `repartition(_id)` exchange, not a localCheckpoint: the shuffle
    * files are disk-backed and auto-cleaned (a checkpoint would pin
    * the full residual corpus in executor storage for the JVM's
    * lifetime — poison in a long-lived multi-query session), and
    * hash-partitioning on `_id` already satisfies the encode's
    * (_id, cell) aggregation, so the plan's total exchange count is
    * unchanged — the groupBy shuffle just moves below the expansion. */
  def pqEncodeResidual(vectors: DataFrame, idCol: String, vecCol: String,
      codebook: DataFrame, cents: DataFrame, nSub: Int = 8,
      dim: Int = 64): DataFrame =
    pqEncodeWith(
      cellResiduals(vectors, idCol, vecCol, cents).repartition(col("_id")),
      "_id", "_rv", codebook, nSub, dim, passthrough = Seq("cell"))
      .select(col("_id"), col("cell"), col("codes"), col("err"))

  /** Trained PQ codebook: `iters` rounds of the FIXED-POINT spherical
    * k-means step ([[kmeansStep]]'s arithmetic — micro-unit long sums,
    * floor(s·1000/n) milli-micro means — so every round is
    * order-independent and an external engine replays the exact
    * centroids), starting from the first-`nCodewords` convention.
    * Returns (cent_id, _c array<double>) where each lane is the exact
    * integer m divided by 1e9 — both sides of the oracle perform the
    * identical IEEE division on identical exact inputs.
    *
    * Each round is one zero-shuffle assignment pass ([[assignCells]])
    * plus one map-side-combined aggregation of dim long sums per cell;
    * the tiny centroid table is what checkpoints between rounds, so
    * round k never re-derives rounds 1..k-1. */
  def pqTrainCodebook(candidates: DataFrame, idCol: String, vecCol: String,
      nCodewords: Int = 16, iters: Int = 2, dim: Int = 64,
      cp: Checkpointer = LocalCheckpoint): DataFrame = {
    val vecs = candidates.select(col(idCol).as("n_id"),
      col(vecCol).cast("array<double>").as("_v"))
    pqTrainCodebookFrom(candidates, idCol, vecCol,
      vecs.orderBy(col("n_id").asc).limit(nCodewords)
        .select(col("n_id").cast("long").as("cent_id"), col("_v").as("_c")),
      iters, dim, cp)
  }

  /** [[pqTrainCodebook]] from an EXPLICIT initial centroid table
    * (`(cent_id, _c array<double>)` rows — e.g.
    * [[kmeansSeedFarthest]]'s spread seeds instead of the first-k
    * convention). Identical fixed-point rounds, so the whole loop
    * stays order-independent and externally replayable given the same
    * init. */
  def pqTrainCodebookFrom(candidates: DataFrame, idCol: String,
      vecCol: String, init: DataFrame, iters: Int = 2, dim: Int = 64,
      cp: Checkpointer = LocalCheckpoint): DataFrame = {
    val vecs = candidates.select(col(idCol).as("n_id"),
      col(vecCol).cast("array<double>").as("_v"))
    var cents = cp.cut(init.select(col("cent_id").cast("long").as("cent_id"),
      col("_c").cast("array<double>").as("_c")))
    val sums = (1 to dim).map(i =>
      sum(floor(element_at(col("_v"), i) * lit(1000000.0) + lit(0.5))
        .cast("long")).as(s"_s$i"))
    for (_ <- 1 to iters) {
      val asg = assignCells(vecs,
        cents.select(col("cent_id"), col("_c").as("_centv"),
          norm2(col("_c")).as("_centn")), "_v")
        .select(col("n_id"), col("_v"), col("_cell").as("cell"))
      val next = asg.groupBy(col("cell"))
        .agg(count(lit(1)).as("_n"), sums: _*)
        .select(col("cell").as("cent_id"),
          array((1 to dim).map(i =>
            floor(col(s"_s$i") * lit(1000.0) / col("_n")).cast("long")
              .cast("double") / lit(1000000000.0)): _*).as("_c"))
      val old = cents
      cents = cp.cut(next)
      cp.release(old)
    }
    cents
  }

  /** Deterministic farthest-first (Gonzalez 1985 k-center greedy)
    * seeding — the D²-spirit upgrade over the first-k convention:
    * start from the lowest-id vector, then repeatedly pick the vector
    * whose best cosine to the chosen set is WORST (ties to the lowest
    * id). On adversarial data where the first k ids share a cluster,
    * first-k wastes cells; farthest-first provably 2-approximates the
    * k-center optimum and spreads seeds across the corpus — and unlike
    * true randomized k-means++ it is fully deterministic, so an
    * external engine replays the exact seed sequence.
    *
    * Scale shape: each of the k-1 rounds is one zero-shuffle
    * [[assignCells]] corpus scan folded to a SINGLE `min(struct)` row
    * (map-side combinable — no sort, no window), plus a 1-row
    * broadcast join to fetch the winner's vector; chosen-set state is
    * k tiny checkpointed rows. k corpus scans is the classic
    * farthest-first cost — amortized once per index build, and each
    * scan is cheaper than one k-means round. Returns
    * (cent_id, _c array<double>, seed_rank) — feed straight into
    * [[pqTrainCodebookFrom]]. */
  def kmeansSeedFarthest(candidates: DataFrame, idCol: String,
      vecCol: String, k: Int,
      cp: Checkpointer = LocalCheckpoint): DataFrame = {
    val vecs = candidates.select(col(idCol).cast("long").as("n_id"),
      col(vecCol).cast("array<double>").as("_v"))
    var chosen = cp.cut(vecs.orderBy(col("n_id").asc).limit(1)
      .select(col("n_id").as("cent_id"), col("_v").as("_c"),
        lit(0).as("seed_rank")))
    for (i <- 1 until k) {
      val asg = assignCells(vecs,
        chosen.select(col("cent_id"), col("_c").as("_centv"),
          norm2(col("_c")).as("_centn")), "_v")
      val picked = asg
        .agg(min(struct(col("_csim").as("s"), col("n_id").as("i"))).as("_m"))
        .select(col("_m").getField("i").as("n_id"))
      val next = vecs.join(broadcast(picked), "n_id")
        .select(col("n_id").as("cent_id"), col("_v").as("_c"),
          lit(i).as("seed_rank"))
      val old = chosen
      chosen = cp.cut(chosen.unionByName(next))
      cp.release(old)
    }
    chosen
  }

  /** Per-query ADC lookup tables against a broadcast codebook, laid
    * out j-major: entry (j, c) at 1-based index j*k + c + 1. Input
    * `q` must carry (q_id, _qv double array); `cb` (_cb, _cv). */
  /** Plan-embedded codebook-cardinality guard: the ADC lookup fold
    * indexes `_tab` positionally as j·nCodewords + code, so a codebook
    * that lost a cell (e.g. a trained codebook whose groupBy covered
    * only assigned cells) would silently shift every block and return
    * wrong distances. Checked at RUNTIME on the per-query table rows —
    * zero extra jobs (a driver-side count here would re-run an entire
    * training aggregation just to validate it) and loud instead of
    * silently wrong. */
  private def guardedAdcFlatten(s: Column, nSub: Int, nCodewords: Int,
      op: String): Column =
    when(size(s) === nCodewords,
      flatten(array((0 until nSub).map(j =>
        transform(s, e => element_at(e.getField("_ds"), j + 1))): _*)))
      .otherwise(raise_error(concat(
        lit(s"$op: codebook must have exactly $nCodewords rows, got "),
        size(s).cast("string"))))

  private def adcTables(q: DataFrame, cb: DataFrame, nSub: Int,
      sub: Int, nCodewords: Int, op: String): DataFrame =
    q.crossJoin(broadcast(cb))
      .select(col("q_id"), col("_cb"),
        array((0 until nSub).map(j =>
          subL2(col("_qv"), col("_cv"), j, sub)): _*).as("_ds"))
      .groupBy(col("q_id"))
      .agg(sort_array(collect_list(struct(col("_cb"), col("_ds")))).as("_s"))
      .select(col("q_id"),
        guardedAdcFlatten(col("_s"), nSub, nCodewords, op).as("_tab"))

  /** PQ asymmetric-distance top-k: candidates are scanned as CODES
    * ONLY (nSub ints/row — no vectors ride the scan); each query
    * precomputes its distance table tab[j*k + c] = L2²(q_j, C_j[c])
    * against the broadcast codebook, and a candidate's distance is the
    * left-assoc chain Σ_j tab[j*k + code_j] — nSub array lookups per
    * (query, candidate), zero shuffle until the bounded per-query
    * top-k window. This is the classic IVF-ADC probe shape (Jégou et
    * al., TPAMI 2011) re-expressed as a broadcast join + fold.
    *
    * Deterministic end to end (codebook = corpus ids < nCodewords, tie
    * break on ascending candidate id), so the DuckDB oracle replays
    * the exact ranks despite "approximate" recall semantics. */
  def pqAdcTopK(queries: DataFrame, candidates: DataFrame, idCol: String,
      vecCol: String, topK: Int, nSub: Int = 8, nCodewords: Int = 16,
      dim: Int = 64): DataFrame = {
    val sub = dim / nSub
    val enc = pqEncode(candidates, idCol, vecCol, nSub, nCodewords, dim)
      .select(col("_id").as("n_id"), col("codes"))
    val q = queries.select(col(idCol).as("q_id"),
      col(vecCol).cast("array<double>").as("_qv"))
    val cb = candidates
      .select(col(idCol).as("_cb"),
        col(vecCol).cast("array<double>").as("_cv"))
      .filter(col("_cb") < nCodewords)
    val qtab = adcTables(q, cb, nSub, sub, nCodewords, "pqAdcTopK")
    val scored = enc.crossJoin(broadcast(qtab))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("dist", (0 until nSub).foldLeft(lit(0.0))((acc, j) =>
        acc + element_at(col("_tab"),
          lit(j * nCodewords) + element_at(col("codes"), j + 1) + 1)))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("dist").asc, col("n_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("q_id"), col("n_id"), col("rank"))
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    * cluster the corpus with the deterministic coarse quantizer (the
    * [[ivfTopK]] cell assignment — cosine argmax against the first
    * `nCells` corpus vectors, ties to the lowest centroid id), then
    * WITHIN each cell drop every vector that has a lower-id cell-mate
    * with cosine ≥ `threshold`; the min-id exemplar of each near-dup
    * neighborhood survives.
    *
    * Scale shape: pair generation is an equi-join on the cell key over
    * SLIM (id, cell) rows — quadratic only within a cell, which is the
    * algorithm's point (nCells grows with the corpus, ~√n keeps cells
    * constant-sized), so no O(n²) cross join ever forms. Vectors attach
    * to candidate pairs only for the exact-cosine verify (the q26
    * slim-pair discipline); the final kept flag is one broadcast-able
    * left join of the (small) dropped-id set.
    *
    * Deterministic end to end → the DuckDB oracle replays cells, pairs,
    * and the kept flag exactly. Returns (vec_id, cell, kept). */
  def semDeDup(vectors: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nCells: Int = 16): DataFrame = {
    val cents = coarseCentroids(vectors, idCol, vecCol, nCells)
    val assigned = assignCells(
      withNorm(vectors, idCol, vecCol, "_id", "_v", "_n"), cents, "_v")
      .select(col("_id"), col("_v"), col("_n"), col("_cell"))
    val slim = assigned.select(col("_id"), col("_cell"))
    val cand = slim.select(col("_id").as("vec_a"), col("_cell"))
      .join(slim.select(col("_id").as("vec_b"), col("_cell")), Seq("_cell"))
      .filter(col("vec_a") < col("vec_b"))
      .select("vec_a", "vec_b")
    val n = assigned.select(col("_id"), col("_v"), col("_n"))
    val dropped = cand
      .join(n.select(col("_id").as("vec_a"), col("_v").as("_va"),
        col("_n").as("_na")), Seq("vec_a"))
      .join(n.select(col("_id").as("vec_b"), col("_v").as("_vb"),
        col("_n").as("_nb")), Seq("vec_b"))
      .filter(dot(col("_va"), col("_vb"))
        / sqrt(col("_na") * col("_nb")) >= threshold)
      .select(col("vec_b").as("_id"))
      .distinct()
    assigned.select(col("_id"), col("_cell"))
      .join(dropped.withColumn("_drop", lit(1)), Seq("_id"), "left")
      .select(col("_id").as("vec_id"), col("_cell").as("cell"),
        when(col("_drop").isNull, lit(1)).otherwise(lit(0)).as("kept"))
  }

  /** Recall@k of an approximate ANN ranking against the exact one —
    * the evaluation dashboard for the LSH/IVF/PQ family (how much
    * recall the corpus-fraction scan trades away). Both inputs are
    * (q_id, n_id, rank) frames as produced by every top-k operator
    * here; rows with rank ≤ k compare. Per query: n_hit = |approx ∩
    * exact|, recall = n_hit / |exact ground truth| (which can be < k
    * at corpus edges). Inputs are query-cardinality-tiny, so the join
    * and the aggregation broadcast/fit anywhere; the expensive part is
    * producing the two rankings, not comparing them. */
  def recallAtK(approx: DataFrame, exact: DataFrame, k: Int): DataFrame = {
    val e = exact.filter(col("rank") <= k).select(col("q_id"), col("n_id"))
    val a = approx.filter(col("rank") <= k)
      .select(col("q_id"), col("n_id")).withColumn("_hit", lit(1L))
    e.join(a, Seq("q_id", "n_id"), "left")
      .groupBy(col("q_id"))
      .agg(sum(coalesce(col("_hit"), lit(0L))).as("n_hit"),
        count(lit(1)).as("_n"))
      .select(col("q_id"), col("n_hit"),
        (col("n_hit") * lit(1.0) / col("_n")).as("recall"))
  }

  /** Approximate top-k: candidates restricted to the query's LSH bucket,
    * then exact cosine rank within the bucket. Trades recall for a
    * corpus-fraction scan; `nPlanes` tunes bucket granularity. */
  def lshTopK(queries: DataFrame, candidates: DataFrame, idCol: String,
      vecCol: String, k: Int, nPlanes: Int = 8, dim: Int = 64): DataFrame = {
    val q = withNorm(queries, idCol, vecCol, "q_id", "_qv", "_qn")
      .withColumn("_bucket", lshBucket(col("_qv"), nPlanes, dim))
    val c = withNorm(candidates, idCol, vecCol, "n_id", "_cv", "_cn")
      .withColumn("_bucket", lshBucket(col("_cv"), nPlanes, dim))
    val scored = c.join(broadcast(q), Seq("_bucket"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("cos",
        dot(col("_qv"), col("_cv")) / sqrt(col("_qn") * col("_cn")))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("n_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("n_id"), col("rank"))
  }
}
