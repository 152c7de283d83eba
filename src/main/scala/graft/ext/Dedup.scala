package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, each designed
  * for the 100 TB shuffle profile:
  *
  *  - exact / normalized-key dedup: one hash-partitioned aggregation on
  *    the (cheap, already-small) key — the canonical map-side-combinable
  *    groupBy.
  *  - blocked n-gram Jaccard: candidate pairs only *within* a blocking
  *    key (language × length bucket), so the self-join shuffles each
  *    block independently — no global cross join ever materializes.
  *  - MinHash + LSH banding: signatures are a fixed-width column (32
  *    longs) per doc; candidates come from an equi-join on (band,
  *    bandHash) — the classic shingle→minhash→band→bucket-join plan
  *    whose shuffle volume is #docs × #bands tiny rows.
  *  - SimHash: 64-bit fingerprint; near-pairs via the pigeonhole band
  *    join (hamming ≤ k ⇒ some 16-bit chunk equal), then exact
  *    `bit_count(xor)` verify.
  */
object Dedup {

  // ---- exact -------------------------------------------------------------

  /** Exact duplicate groups by raw text: keeper = min id (deterministic),
    * group size. One shuffle, map-side combinable. */
  def exactGroups(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.groupBy(col(textCol))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_copies"))
      .select(col("keeper_id"), col("n_copies"))

  /** Whitespace/case-normalized key — catches trivially-reformatted
    * duplicates that raw equality misses. */
  def normKey(text: Column): Column =
    lower(trim(regexp_replace(text, "\\s+", " ")))

  def normalizedGroups(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.groupBy(normKey(col(textCol)).as("k"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_copies"))
      .select(col("keeper_id"), col("n_copies"))

  // ---- character shingles + exact Jaccard --------------------------------

  /** Distinct k-char shingles, single-pass custom expression
    * (oracle-portable; docs shorter than k yield no shingles). */
  def shingles(text: Column, k: Int): Column =
    graft.functions.VectorFunctions.shingles(text, k, word = false)

  /** Exact Jaccard over pre-distinct shingle arrays. Single-pass custom
    * expression (one hash-set build + probe per pair) — the composed
    * size(array_intersect)/inclusion-exclusion tree rebuilds its hash
    * set once per consumer after project-collapse. Same value. */
  def jaccard(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.jaccardSim(a, b)

  /** Distinct word n-gram shingles (space-joined token windows),
    * single-pass custom expression. */
  def wordShingles(text: Column, n: Int): Column =
    graft.functions.VectorFunctions.shingles(text, n, word = true)

  /** Near-duplicate pairs by *blocked* exact Jaccard: candidates are
    * restricted to identical (blockCols) — e.g. language + length
    * bucket — then exact Jaccard over word n-gram shingles ≥ threshold
    * (word grams: ~5× smaller sets than char grams at equal recall on
    * prose). Deterministic and oracle-checkable; the blocking bounds
    * the pair count so each block's self-join is an independent,
    * shuffle-local task. */
  def ngramJaccardPairs(docs: DataFrame, textCol: String, idCol: String,
      blockCols: Seq[Column], n: Int, threshold: Double,
      cp: Checkpointer = LocalCheckpoint): DataFrame = {
    // materialize the shingled corpus ONCE: three consumers below
    // (prefix explode + the two verify-stage rejoins) would otherwise
    // re-tokenize the whole corpus each — at 100 TB the shingle pass IS
    // the dominant cost, so it must run exactly once
    val base = cp.cut(docs
      .withColumn("_block", concat_ws("", blockCols: _*))
      .select(col(idCol).as("_id"), col("_block"),
        sort_array(wordShingles(col(textCol), n)).as("_sh"))
      .filter(size(col("_sh")) > 0))
    // PPJoin-style prefix filter: J(A,B) >= t implies A and B share a
    // shingle within each one's first |S| - ceil(t*|S|) + 1 elements of
    // the global (sorted) order — so candidates come from an equi-join
    // on prefix shingles, not the full blocked cross product. Exact:
    // no false negatives. ceil over doubles can round UP across an
    // integer (t*|S| = 1.0000000000000002 for t=0.1, |S|=10), which
    // would SHORTEN the prefix and drop exact-boundary pairs — the
    // epsilon keeps ceil at the true integer bound (safe: it can only
    // lengthen the prefix).
    val prefLen = size(col("_sh")) -
      ceil(size(col("_sh")) * lit(threshold) - lit(1e-9)).cast("int") + lit(1)
    val pref = base.select(col("_id"), col("_block"),
      explode(slice(col("_sh"), lit(1), prefLen)).as("_tok"))
    val cand = pref.select(col("_id").as("doc_a"), col("_block"), col("_tok"))
      .join(pref.select(col("_id").as("doc_b"), col("_block"), col("_tok")),
        Seq("_block", "_tok"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .distinct()
    cand
      .join(base.select(col("_id").as("doc_a"), col("_sh").as("_sha")),
        Seq("doc_a"))
      .join(base.select(col("_id").as("doc_b"), col("_sh").as("_shb")),
        Seq("doc_b"))
      .withColumn("jaccard", graft.functions.VectorFunctions
        .jaccardSorted(col("_sha"), col("_shb")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Cross-corpus near-dup pairs — train-vs-eval DECONTAMINATION at
    * document granularity: every (left, right) pair in the same block
    * with n-gram Jaccard ≥ threshold. Same exact PPJoin prefix filter
    * as [[ngramJaccardPairs]] (the prefix lemma is symmetric in the
    * pair, so it holds unchanged across two corpora): candidates come
    * from an equi-join of the two sides' prefix tokens, never a
    * blocked cross product, and each side's shingle pass runs once.
    * Typical use: left = training corpus, right = benchmark/eval set;
    * surviving left ids are the documents to drop. */
  def crossJaccardPairs(left: DataFrame, right: DataFrame,
      textCol: String, idCol: String, blockCols: Seq[Column], n: Int,
      threshold: Double, cp: Checkpointer = LocalCheckpoint): DataFrame = {
    def prep(df: DataFrame) = cp.cut(df
      .withColumn("_block", concat_ws("", blockCols: _*))
      .select(col(idCol).as("_id"), col("_block"),
        sort_array(wordShingles(col(textCol), n)).as("_sh"))
      .filter(size(col("_sh")) > 0))
    def prefixed(base: DataFrame, as: String) = {
      val prefLen = size(col("_sh")) -
        ceil(size(col("_sh")) * lit(threshold) - lit(1e-9)).cast("int") + lit(1)
      base.select(col("_id").as(as), col("_block"),
        explode(slice(col("_sh"), lit(1), prefLen)).as("_tok"))
    }
    val a = prep(left)
    val b = prep(right)
    val cand = prefixed(a, "left_id")
      .join(prefixed(b, "right_id"), Seq("_block", "_tok"))
      .select("left_id", "right_id")
      .distinct()
    cand
      .join(a.select(col("_id").as("left_id"), col("_sh").as("_sha")),
        Seq("left_id"))
      .join(b.select(col("_id").as("right_id"), col("_sh").as("_shb")),
        Seq("right_id"))
      .withColumn("jaccard", graft.functions.VectorFunctions
        .jaccardSorted(col("_sha"), col("_shb")))
      .filter(col("jaccard") >= threshold)
      .select(col("left_id"), col("right_id"), col("jaccard"))
  }

  /** Near-duplicate CLUSTERS: connected components over the blocked-
    * Jaccard pair graph, labels = min doc id per component (the keeper).
    * Iterative min-label propagation — each round is one join + one
    * map-side-combinable aggregation, lineage cut per round with
    * localCheckpoint; converges in O(component diameter) rounds (dup
    * clusters are shallow). Docs with no near-dup are singleton
    * clusters of themselves. Throws `IllegalStateException` when
    * `maxIters` rounds end with labels still changing, instead of
    * returning a component split into several clusters. */
  def dupClusters(docs: DataFrame, textCol: String, idCol: String,
      blockCols: Seq[Column], n: Int, threshold: Double,
      maxIters: Int = 15,
      cp: Checkpointer = LocalCheckpoint): DataFrame = {
    val pairs = ngramJaccardPairs(docs, textCol, idCol, blockCols, n,
      threshold, cp).select(col("doc_a"), col("doc_b"))
    val edges = cp.cut(pairs.unionByName(
      pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b"))))
    // Iterate ONLY over edge-connected nodes: near-dups are a sliver of
    // the corpus, so the propagation working set is |edge nodes|, not
    // |docs| — at 100 TB the difference between joining the whole corpus
    // per round and joining a few thousand rows. Singletons rejoin at
    // the end with themselves as cluster id.
    var labels = cp.cut(edges.select(col("doc_a").as("node")).distinct()
      .select(col("node"), col("node").as("lbl")))
    var converged = false
    var it = 0
    while (!converged && it < maxIters) {
      val nbrMin = edges
        .join(labels.select(col("node").as("doc_b"), col("lbl").as("_nl")),
          Seq("doc_b"))
        .groupBy(col("doc_a")).agg(min(col("_nl")).as("_nmin"))
      // convergence flag rides ALONG in the same pass (one action per
      // round: the eager checkpoint) instead of a separate join+count
      val next = cp.cut(labels
        .join(nbrMin.select(col("doc_a").as("node"), col("_nmin")),
          Seq("node"), "left")
        .select(col("node"),
          least(col("lbl"), coalesce(col("_nmin"), col("lbl"))).as("lbl"),
          (col("_nmin") < col("lbl")).as("_changed")))
      val changed = next.filter(col("_changed")).head(1).nonEmpty
      // drop the superseded iteration's storage — it would pin executor
      // memory for the rest of the job otherwise (Dataset.unpersist
      // can't reach a localCheckpoint's blocks; see bridge scaladoc)
      cp.release(labels)
      labels = next.select(col("node"), col("lbl"))
      converged = !changed
      it += 1
    }
    if (!converged) {
      cp.release(labels)
      cp.release(edges)
      throw new IllegalStateException(
        s"dupClusters did not converge in $maxIters label-propagation " +
          "rounds — raise maxIters (a component needs about as many " +
          "rounds as its longest shortest path)")
    }
    cp.release(edges)
    docs.select(col(idCol).as("doc_id"))
      .join(labels.select(col("node").as("doc_id"), col("lbl")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("lbl"), col("doc_id")).as("cluster_id"))
  }

  // ---- exact-substring span removal --------------------------------------

  /** Exact-substring span REMOVAL (the full Lee et al. 2022 operator —
    * q78's `ngramDedup` only reports duplication stats; this one edits
    * the corpus): every token k-gram is owned by its globally first
    * occurrence (lexicographic min of (doc id, position)); every other
    * occurrence marks its k-token span as duplicated; per document the
    * spans merge into disjoint intervals (gaps-and-islands) and the
    * covered tokens are cut from the text.
    *
    * Returns one row per input document: (doc_id, n_tokens, n_removed,
    * clean_text) — n_removed = tokens covered by the merged intervals,
    * clean_text = the survivors joined by single spaces.
    *
    * 100 TB shape: the ownership pass is ONE aggregation keyed by the
    * gram (`min(struct(id, pos))` — map-side combinable, unlike a
    * window), the dup-span join re-shuffles on the same gram key, and
    * the interval merge + token cut are windows/aggregations
    * partitioned BY DOCUMENT — embarrassingly parallel, state bounded
    * by tokens-per-doc. Gram text is the shuffle key here so the
    * DuckDB oracle states identical semantics; at petabyte scale
    * substitute the rolling polynomial hash ([[TextAnalysis
    * .fingerprint]] / xxhash64, 128-bit if collision math demands) as
    * the key — same plan shape, ~16 bytes per gram instead of the
    * k-token string. */
  def dedupSpans(docs: DataFrame, textCol: String, idCol: String,
      k: Int = 8): DataFrame = {
    require(k > 0)
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col(idCol).as("_id"),
      TextAnalysis.tokens(col(textCol)).as("_tk"))
    val grams = toks.filter(size(col("_tk")) >= k)
      .select(col("_id"), explode(transform(
        sequence(lit(0), size(col("_tk")) - k),
        i => struct(i.cast("long").as("_pos"),
          array_join(slice(col("_tk"), i + 1, lit(k)), " ").as("_gram")))).as("_g"))
      .select(col("_id"), col("_g._pos").as("_pos"), col("_g._gram").as("_gram"))
    val owners = grams.groupBy(col("_gram"))
      .agg(min(struct(col("_id"), col("_pos"))).as("_own"))
    val spans = grams.join(owners, Seq("_gram"))
      .filter(struct(col("_id"), col("_pos")) =!= col("_own"))
      .select(col("_id"), col("_pos").as("_s"), (col("_pos") + k).as("_e"))
    // gaps-and-islands interval merge, per doc: a span starts a new
    // island iff it begins at/after the running max end (ends are
    // exclusive, so touching spans stay separate — the covered-token
    // union is identical either way)
    val wOrd = Window.partitionBy(col("_id")).orderBy(col("_s"), col("_e"))
    val runMax = max(col("_e"))
      .over(wOrd.rowsBetween(Window.unboundedPreceding, -1))
    val islands = spans
      .withColumn("_new",
        when(col("_s") >= coalesce(runMax, lit(-1L)), 1L).otherwise(0L))
      .withColumn("_isl",
        sum(col("_new")).over(wOrd.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("_id"), col("_isl"))
      .agg(min(col("_s")).as("_s"), max(col("_e")).as("_e"))
    val ivs = islands.groupBy(col("_id"))
      .agg(sort_array(collect_list(struct(col("_s"), col("_e")))).as("_ivs"),
        sum(col("_e") - col("_s")).as("_rm"))
    toks.join(ivs, Seq("_id"), "left")
      .select(col("_id").as("doc_id"),
        size(col("_tk")).cast("long").as("n_tokens"),
        coalesce(col("_rm"), lit(0L)).as("n_removed"),
        array_join(
          when(col("_ivs").isNull, col("_tk"))
            .otherwise(filter(col("_tk"), (t, i) =>
              !exists(col("_ivs"), iv =>
                i.cast("long") >= iv.getField("_s")
                  && i.cast("long") < iv.getField("_e")))),
          " ").as("clean_text"))
  }

  // ---- MinHash + LSH -----------------------------------------------------

  /** MinHash modulus: 2^31-1 (Mersenne prime) keeps a*h+b < 2^62 — no
    * long overflow under ANSI arithmetic. Permutation params live in
    * graft.functions.MinHashSig (same seed derivation). */
  private val MinHashP = 2147483647L

  /** MinHash signature: for each permutation i, min over shingle hashes
    * of (a_i*h + b_i) mod p. Shingle base hash = xxhash64 (codegen'd);
    * the numPerms×shingles min-plane runs in the custom MinHashSig
    * expression (one JVM loop) instead of numPerms interpreted array
    * traversals. Permutation params derive from the same seed. */
  def minHashSignature(sh: Column, numPerms: Int = 32,
      seed: Long = 42L): Column =
    graft.functions.VectorFunctions.minHashSig(sh, numPerms, seed)


  /** LSH near-dup pairs over word n-gram shingles: signature → bands
    * of `rowsPerBand` → explode → equi-join on (band, band key) →
    * exact Jaccard verify ≥ threshold, with every hash in the chain
    * SQL-replayable: shingle ids are the rolling polynomial
    * fingerprint, permutations are the public seeded (a_j, b_j)
    * literals ([[graft.functions.MinHashSig.perms]]), and band keys are
    * the RAW signature slices as comma strings. An external engine can
    * therefore replay signatures, buckets, candidate pairs, and the
    * exact-Jaccard verify — the full LSH recall surface gets a
    * hash-equality oracle (q118).
    *
    * Scale shape: slim (id, band, key) rows through the candidate
    * join, shingles attached to surviving candidates only. The string
    * band key is a few dozen bytes vs an 8-byte hashed key — the price
    * of replayability. */
  def minHashLshPairsPortable(docs: DataFrame, textCol: String,
      idCol: String, n: Int = 3, numPerms: Int = 16, rowsPerBand: Int = 4,
      threshold: Double = 0.5, seed: Long = 42L): DataFrame = {
    val (base, banded) =
      minHashBandedPortable(docs, textCol, idCol, n, numPerms, rowsPerBand,
        seed)
    val cand = banded.select(col("_id").as("doc_a"), col("_bandNo"),
        col("_bandKey"))
      .join(banded.select(col("_id").as("doc_b"), col("_bandNo"),
        col("_bandKey")), Seq("_bandNo", "_bandKey"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .distinct()
    cand
      .join(base.select(col("_id").as("doc_a"), col("_sh").as("_sha")),
        Seq("doc_a"))
      .join(base.select(col("_id").as("doc_b"), col("_sh").as("_shb")),
        Seq("doc_b"))
      .withColumn("jaccard", graft.functions.VectorFunctions
        .jaccardSorted(col("_sha"), col("_shb")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** EXACT set-similarity self-join via prefix filtering (the
    * SSJoin/PPJoin discipline: Chaudhuri et al. ICDE'06, Bayardo et
    * al. WWW'07, Xiao et al. WWW'08): order the shingle vocabulary by
    * ascending document frequency (ties by shingle), index each doc
    * ONLY on its first |x| − ⌈t·|x|⌉ + 1 shingles in that order, and
    * generate candidates from shared prefix shingles. If
    * J(x,y) ≥ t, the prefixes provably intersect — so unlike
    * MinHash-LSH banding (q118/q207) the candidate net has ZERO false
    * negatives: recall is 1.0 by theorem, not by tuning. The price is
    * candidate counts that grow with how common the rarest shared
    * shingle is — which the frequency-ASCENDING order minimizes: the
    * prefix holds each doc's rarest shingles, so index buckets are
    * small by construction (THE PPJoin insight, and why the join
    * survives scale without a band-size knob).
    *
    * All pruning arithmetic is integral (⌈t·n⌉ as (num·n+den−1) div
    * den with t = thresholdNum/thresholdDen), the global order is the
    * raw (df, shingle) key — no vocabulary-wide rank window — and
    * per-doc prefix positions ride a doc-keyed window. One keyed df
    * join, one doc-keyed window, one shingle-keyed self-join, then
    * the exact verify; a length-compatibility filter (t·|x| ≤ |y| ≤
    * |x|/t) prunes candidates before the verify — dropping only pairs
    * the verify would reject anyway, so the output is invariant.
    * Returns verified (doc_a, doc_b, jaccard). */
  def prefixFilterJaccardPairs(docs: DataFrame, textCol: String,
      idCol: String, n: Int = 3, thresholdNum: Int = 3,
      thresholdDen: Int = 5): DataFrame = {
    val (base, cand) =
      prefixCandidates(docs, textCol, idCol, n, thresholdNum, thresholdDen)
    verifyJaccard(base, cand, thresholdNum, thresholdDen)
  }

  /** The SSJoin/PPJoin candidate machinery shared by the exact and
    * capped prefix joins: (base = (_id, sorted shingles), cand =
    * deduped (doc_a < doc_b) candidate pairs surviving the prefix,
    * length, and positional filters). */
  private[graft] def prefixCandidates(docs: DataFrame, textCol: String,
      idCol: String, n: Int, thresholdNum: Int,
      thresholdDen: Int): (DataFrame, DataFrame) = {
    val (base, prefix) =
      prefixRows(docs, textCol, idCol, n, thresholdNum, thresholdDen)
    (base, candidatesOf(prefix, thresholdNum, thresholdDen))
  }

  /** The per-document prefix rows of the SSJoin discipline: (base =
    * (_id, sorted shingles), prefix = (_id, _sz, _pos, _tok) rows
    * surviving π = sz − ⌈t·sz⌉ + 1, positions ordered by (global df,
    * token)). Split out so the BOUNDED variant can drop hot tokens
    * between prefix construction and the candidate join. */
  private def prefixRows(docs: DataFrame, textCol: String,
      idCol: String, n: Int, thresholdNum: Int,
      thresholdDen: Int): (DataFrame, DataFrame) = {
    require(n >= 1 && thresholdNum > 0 && thresholdDen >= thresholdNum,
      "threshold must be a rational in (0, 1]")
    val base = docs.select(col(idCol).as("_id"),
        sort_array(wordShingles(col(textCol), n)).as("_sh"))
      .filter(size(col("_sh")) > 0)
    val toks = base.select(col("_id"), size(col("_sh")).as("_sz"),
      explode(col("_sh")).as("_tok"))
    val dfreq = toks.groupBy(col("_tok"))
      .agg(count(lit(1)).as("_df"))
    val prefix = toks.join(dfreq, Seq("_tok"))
      .withColumn("_pos", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("_id"))
          .orderBy(col("_df"), col("_tok"))))
      // π = sz − ⌈t·sz⌉ + 1
      .filter(col("_pos") <= col("_sz") -
        expr(s"($thresholdNum * _sz + ${thresholdDen - 1}) " +
          s"div $thresholdDen") + 1)
      .select(col("_id"), col("_sz"), col("_pos"), col("_tok"))
    (base, prefix)
  }

  /** The candidate join + length/positional filters over a prefix-row
    * frame (the tail of [[prefixCandidates]], shared with the bounded
    * variant). */
  private def candidatesOf(prefix: DataFrame, thresholdNum: Int,
      thresholdDen: Int): DataFrame = {
    val cand = prefix.select(col("_id").as("doc_a"),
        col("_sz").as("_sza"), col("_pos").as("_posa"), col("_tok"))
      .join(prefix.select(col("_id").as("doc_b"),
        col("_sz").as("_szb"), col("_pos").as("_posb"), col("_tok")),
        Seq("_tok"))
      .filter(col("doc_a") < col("doc_b"))
      // length compatibility: t·|a| ≤ |b| and t·|b| ≤ |a|
      .filter(col("_szb") * thresholdDen >= col("_sza") * thresholdNum &&
        col("_sza") * thresholdDen >= col("_szb") * thresholdNum)
      // positional filter (PPJoin): a shared token at sorted positions
      // (i, j) bounds the overlap by 1 + min(|a|−i, |b|−j); J ≥ t
      // needs overlap ≥ ⌈t·(|a|+|b|)/(1+t)⌉ — prune join rows whose
      // bound cannot reach it (the pair survives iff ANY shared prefix
      // token passes, so the verified output is invariant)
      .filter(lit(1) + least(col("_sza") - col("_posa"),
          col("_szb") - col("_posb")) >=
        expr(s"($thresholdNum * (_sza + _szb) + " +
          s"${thresholdDen + thresholdNum - 1}) " +
          s"div ${thresholdDen + thresholdNum}"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
    cand
  }

  /** Exact-Jaccard verification of a (doc_a, doc_b) candidate frame
    * against the shingle base — the verify tail shared by the exact
    * and capped prefix joins. */
  private def verifyJaccard(base: DataFrame, cand: DataFrame,
      thresholdNum: Int, thresholdDen: Int): DataFrame =
    cand
      .join(base.select(col("_id").as("doc_a"), col("_sh").as("_sha")),
        Seq("doc_a"))
      .join(base.select(col("_id").as("doc_b"), col("_sh").as("_shb")),
        Seq("doc_b"))
      .withColumn("jaccard", graft.functions.VectorFunctions
        .jaccardSorted(col("_sha"), col("_shb")))
      .filter(col("jaccard") >= lit(thresholdNum.toDouble / thresholdDen))
      .select(col("doc_a"), col("doc_b"), col("jaccard"))

  /** [[prefixFilterJaccardPairs]] with a PER-DOC CANDIDATE CAP — the
    * adversarial-corpus guard: on a pathologically dense corpus (tiny
    * vocabulary, boilerplate-dominated) the exact prefix join's
    * candidate set grows with emitted-pair density (the q213/q219
    * scaling probes measure 2.6–2.9× at 5× rows on the adversarial
    * 30-word fixture), and an SLA-bound run needs a hard ceiling.
    * Each document keeps its `maxCandidates` smallest-partner-id
    * candidates IN EACH ORIENTATION (a pair survives iff it makes the
    * cut on BOTH endpoints), so per-doc verify work is bounded by
    * 2·maxCandidates whatever the corpus does; the kept set is a
    * deterministic SUBSET of the uncapped candidates, so every
    * emitted pair is a true ≥-threshold pair (precision unharmed;
    * recall is what the cap spends, and the counter prices it).
    * Truncation is LOUD, not silent: returns (pairs, stats) where
    * stats is the per-doc truncation ledger
    * (_id, n_cand, n_kept, n_dropped) for documents that lost
    * candidates. The ledger prices ORIENTED candidate SLOTS (each
    * pair occupies one slot at each endpoint, so Σ n_cand over all
    * docs = 2·|uncapped pairs| and Σ n_kept = surviving slots): a
    * pair cut at only one endpoint contributes 1 to Σ n_dropped yet
    * removes a whole pair under the both-votes rule, so Σ n_dropped
    * lies between 1× and 2× the uncapped−capped PAIR difference —
    * spec-pinned per doc as n_cand = n_kept + n_dropped
    * (Round10Spec), with the slot-vs-pair bound pinned in
    * Round11Spec. An empty stats frame IS the proof the cap changed
    * nothing. */
  def prefixFilterJaccardPairsCapped(docs: DataFrame, textCol: String,
      idCol: String, n: Int = 3, thresholdNum: Int = 3,
      thresholdDen: Int = 5, maxCandidates: Int = 64)
      : (DataFrame, DataFrame) = {
    require(maxCandidates >= 1,
      s"maxCandidates must be >= 1, got $maxCandidates")
    val (base, cand) =
      prefixCandidates(docs, textCol, idCol, n, thresholdNum, thresholdDen)
    val (kept, stats) = capOriented(cand, idCol, maxCandidates)
    (verifyJaccard(base, kept, thresholdNum, thresholdDen), stats)
  }

  /** The per-doc candidate cap shared by the capped and bounded
    * prefix joins: both orientations ranked by partner id
    * (deterministic; the rank window is per-doc — bounded by that
    * doc's candidate count, which is exactly the quantity being
    * capped), a pair survives iff it makes the cut on BOTH endpoints.
    * Returns (kept pairs, per-doc truncation ledger). */
  private def capOriented(cand: DataFrame, idCol: String,
      maxCandidates: Int): (DataFrame, DataFrame) = {
    val oriented = cand.select(col("doc_a").as("_d"), col("doc_b").as("_p"))
      .unionByName(
        cand.select(col("doc_b").as("_d"), col("doc_a").as("_p")))
      .withColumn("_rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("_d"))
          .orderBy(col("_p"))))
    val kept = oriented.filter(col("_rn") <= maxCandidates)
      .select(least(col("_d"), col("_p")).as("doc_a"),
        greatest(col("_d"), col("_p")).as("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("_votes"))
      .filter(col("_votes") === 2) // survived the cap on BOTH endpoints
      .select(col("doc_a"), col("doc_b"))
    val stats = oriented
      .groupBy(col("_d"))
      .agg(count(lit(1)).as("n_cand"),
        sum(when(col("_rn") <= maxCandidates, 1L).otherwise(0L))
          .as("n_kept"))
      .withColumn("n_dropped", col("n_cand") - col("n_kept"))
      .filter(col("n_dropped") > 0)
      .select(col("_d").as(idCol), col("n_cand"), col("n_kept"),
        col("n_dropped"))
    (kept, stats)
  }

  /** The FULLY-BOUNDED prefix join — both cost laws capped, both
    * caps priced by loud ledgers. The 25× probes pin the need: the
    * per-doc candidate cap ([[prefixFilterJaccardPairsCapped]])
    * bounds VERIFY work but still pays the candidate ENUMERATION —
    * the prefix self-join's Σ df² term over hot tokens — which is
    * what actually dominates on an adversarial corpus (q233's capped
    * ledger is 70.2 s at 25×, within noise of the uncapped q213's
    * 78.9 s). This variant additionally SKIPS prefix tokens whose
    * prefix-side document frequency exceeds `maxTokenDf` BEFORE the
    * self-join, so candidate enumeration is bounded by
    * maxTokenDf · |prefix rows| — linear in the corpus whatever the
    * vocabulary does. The price is recall (a pair whose ONLY shared
    * prefix token is hot is never seen); the token ledger
    * (token, n_docs) names every skipped token so the loss is
    * priced, never silent — the [[prefixFilterJaccardPairsCapped]]
    * discipline applied to the second cost law. Emitted pairs remain
    * a deterministic SUBSET of the uncapped surface (hot-token skip
    * shrinks the candidate net; the per-doc cap shrinks it again;
    * exact Jaccard verify is unchanged), so precision is untouched.
    * Returns (pairs, per-doc truncation ledger, hot-token ledger);
    * two empty ledgers ARE the proof the bounds changed nothing. */
  def prefixFilterJaccardPairsBounded(docs: DataFrame, textCol: String,
      idCol: String, n: Int = 3, thresholdNum: Int = 3,
      thresholdDen: Int = 5, maxCandidates: Int = 64,
      maxTokenDf: Int = 64): (DataFrame, DataFrame, DataFrame) = {
    require(maxCandidates >= 1 && maxTokenDf >= 1,
      s"caps must be >= 1, got $maxCandidates / $maxTokenDf")
    val (base, prefix) =
      prefixRows(docs, textCol, idCol, n, thresholdNum, thresholdDen)
    boundedTail(base, prefix, idCol, thresholdNum, thresholdDen,
      maxCandidates, maxTokenDf)
  }

  /** The bounded join's tail — hot-token skip, candidate enumeration,
    * per-doc cap, exact verify — shared by the lazy and the cached
    * ([[prefixFilterJaccardPairsBoundedOnce]]) variants so their
    * output-identical contract holds by construction, not just by
    * the Round12Spec equivalence test. */
  private def boundedTail(base: DataFrame, prefix: DataFrame,
      idCol: String, thresholdNum: Int, thresholdDen: Int,
      maxCandidates: Int, maxTokenDf: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    val pdf = prefix.groupBy(col("_tok"))
      .agg(count(lit(1)).as("n_docs"))
    val hot = pdf.filter(col("n_docs") > maxTokenDf)
    val cooled = prefix.join(hot.select(col("_tok")), Seq("_tok"),
      "left_anti")
    val cand = candidatesOf(cooled, thresholdNum, thresholdDen)
    val (kept, docStats) = capOriented(cand, idCol, maxCandidates)
    (verifyJaccard(base, kept, thresholdNum, thresholdDen), docStats,
      hot.select(col("_tok").as("token"), col("n_docs")))
  }

  /** The outputs of [[prefixFilterJaccardPairsBoundedOnce]]: the
    * bounded pair surface, its two ledgers, the cached per-doc
    * shingle rows (_id, _tok — every shingle, not just the prefix;
    * what a consumer needs to intersect documents against the token
    * ledger without re-tokenizing the corpus), and the release
    * method that drops the backing cache once the outputs are
    * consumed. Every accessor CHECKS the release flag: consuming one
    * of these frames after `release()` would not fail — it would
    * silently re-execute the full corpus tokenization lineage
    * (exactly the single-execution contract this type exists to
    * enforce), so a post-release access is refused loudly at
    * composition time. The guard is access-time, not action-time: a
    * reference obtained BEFORE release and executed after still
    * recomputes — collect results before releasing (the q245
    * discipline). */
  final class BoundedOnceOutputs private[ext] (
      pairs0: DataFrame, docLedger0: DataFrame, tokenLedger0: DataFrame,
      shingleRows0: DataFrame, releaseFn: () => Unit) {
    private val released =
      new java.util.concurrent.atomic.AtomicBoolean(false)
    private def guard[A](name: String, a: A): A = {
      require(!released.get(),
        s"BoundedOnceOutputs.$name accessed after release(): the " +
          "backing corpus cache is gone, and consuming this frame " +
          "would silently re-execute the full tokenization lineage")
      a
    }
    def pairs: DataFrame = guard("pairs", pairs0)
    def docLedger: DataFrame = guard("docLedger", docLedger0)
    def tokenLedger: DataFrame = guard("tokenLedger", tokenLedger0)
    def shingleRows: DataFrame = guard("shingleRows", shingleRows0)
    /** Drop the backing cache. Idempotent; flips the access guard. */
    def release(): Unit =
      if (released.compareAndSet(false, true)) releaseFn()
  }

  /** [[prefixFilterJaccardPairsBounded]] with the corpus-derived
    * frames (base shingle arrays + prefix rows) persisted and filled
    * by ONE action before any consumer is composed. Why this exists:
    * the bounded join's outputs feed a multi-consumer composition
    * (the q245 audit reads the pair surface, both ledgers, and a
    * shingle∩hot-token intersection), and several of those consumers
    * sit under AQE BROADCAST-stage futures, which materialize
    * concurrently. Without a cache boundary each future re-executes
    * the whole corpus lineage, and the concurrent duplicates contend
    * for the same executor: the 25× probe measured the chain at
    * 12.4 s standalone but 36 s PER DUPLICATE inside the audit
    * (uniform across tasks — contention, not skew), with total query
    * wall swinging 40–146 s run-to-run as the scheduler raced its
    * own exchange reuse. Caching makes every consumer terminate at
    * the cache scan, so the corpus chain executes exactly once,
    * whatever the scheduler interleaves. The cached frames are
    * LINEAR in the corpus (per-doc shingle arrays + per-doc prefix
    * rows — the frames a 100-TB pipeline would persist across a
    * multi-consumer audit anyway); the caller MUST invoke `release`
    * once the outputs are consumed. Output-identical to
    * [[prefixFilterJaccardPairsBounded]] (Round12Spec pins the
    * equivalence), so the q245 oracle covers both. */
  def prefixFilterJaccardPairsBoundedOnce(docs: DataFrame,
      textCol: String, idCol: String, n: Int = 3, thresholdNum: Int = 3,
      thresholdDen: Int = 5, maxCandidates: Int = 64,
      maxTokenDf: Int = 64): BoundedOnceOutputs = {
    require(maxCandidates >= 1 && maxTokenDf >= 1,
      s"caps must be >= 1, got $maxCandidates / $maxTokenDf")
    val (base0, prefix0) =
      prefixRows(docs, textCol, idCol, n, thresholdNum, thresholdDen)
    val base = base0.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val prefix = prefix0.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val release = () => { base.unpersist(); prefix.unpersist(); () }
    try {
      // one deterministic fill: prefix reads THROUGH base's cache, so
      // this single action populates both
      prefix.count()
      val (pairs, docStats, tokLedger) = boundedTail(base, prefix,
        idCol, thresholdNum, thresholdDen, maxCandidates, maxTokenDf)
      new BoundedOnceOutputs(pairs, docStats, tokLedger,
        base.select(col("_id"), explode(col("_sh")).as("_tok")), release)
    } catch {
      // a failed fill must not orphan corpus-sized cache blocks in a
      // long-lived session (no release handle has escaped yet)
      case t: Throwable => release(); throw t
    }
  }


  /** The raw candidate-pair set of the portable MinHash-LSH banding —
    * the PRE-verify output (any shared band bucket), before the exact
    * Jaccard filter [[minHashLshPairsPortable]] applies. Exposed so
    * the candidate net itself can be measured against exact ground
    * truth (q207's recall/precision surface): the banding's
    * false-negative rate is a property of (numPerms, rowsPerBand) that
    * tuning decisions need as a number, not a formula. */
  def minHashLshCandidates(docs: DataFrame, textCol: String,
      idCol: String, n: Int = 3, numPerms: Int = 16, rowsPerBand: Int = 4,
      seed: Long = 42L): DataFrame = {
    val (_, banded) =
      minHashBandedPortable(docs, textCol, idCol, n, numPerms, rowsPerBand,
        seed)
    banded.select(col("_id").as("doc_a"), col("_bandNo"),
        col("_bandKey"))
      .join(banded.select(col("_id").as("doc_b"), col("_bandNo"),
        col("_bandKey")), Seq("_bandNo", "_bandKey"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .distinct()
  }

  /** The portable-hash banding shared by [[minHashLshPairsPortable]]
    * and [[minHashBandStats]]: (base = (_id, _sh sorted shingles),
    * banded = slim (_id, _bandNo, _bandKey) rows, one per doc×band).
    * Its band keys come from [[portableBands]], as the stored doc
    * index's do ([[minHashDocIndex]]), so batch and stream banding
    * cannot drift apart. */
  private[graft] def minHashBandedPortable(docs: DataFrame, textCol: String,
      idCol: String, n: Int, numPerms: Int, rowsPerBand: Int,
      seed: Long): (DataFrame, DataFrame) = {
    val base = sortedShingles(docs, textCol, idCol, n)
    val banded = portableBands(base, numPerms, rowsPerBand, seed)
      .select(col("_id"), explode(col("_bands")).as("_band"))
      .select(col("_id"),
        col("_band._bandNo").as("_bandNo"), col("_band._bandKey").as("_bandKey"))
    (base, banded)
  }

  /** (_id, _sh sorted word n-gram shingles), docs without a shingle
    * dropped. */
  private def sortedShingles(docs: DataFrame, textCol: String,
      idCol: String, n: Int): DataFrame =
    docs.select(col(idCol).as("_id"),
        sort_array(wordShingles(col(textCol), n)).as("_sh"))
      .filter(size(col("_sh")) > 0)

  /** `base` (_id, _sh sorted shingles) plus `_bands`: the doc's
    * portable MinHash signature cut into `numPerms / rowsPerBand`
    * bands, an array of (_bandNo, _bandKey) structs in ascending band
    * order, the key being the band's `rowsPerBand` signature values
    * joined by ','. One projection per doc — no shuffle. */
  private def portableBands(base: DataFrame, numPerms: Int,
      rowsPerBand: Int, seed: Long): DataFrame = {
    val numBands = numPerms / rowsPerBand
    base
      .withColumn("_hs",
        graft.functions.VectorFunctions.polyHashAll(col("_sh")))
      .withColumn("_sig", minHashSignature(col("_hs"), numPerms, seed))
      .select(col("_id"), col("_sh"), array((0 until numBands).map { b =>
        struct(lit(b).as("_bandNo"),
          concat_ws(",", slice(col("_sig"), b * rowsPerBand + 1, rowsPerBand)
            .cast("array<string>")).as("_bandKey"))
      }: _*).as("_bands"))
  }

  /** INCREMENTAL MinHash-LSH maintenance — the daily-crawl shape: the
    * base corpus was deduped yesterday (its internal pairs already
    * emitted and acted on), a delta batch arrives today, and the only
    * pairs that matter are the ones a delta doc participates in:
    * (delta × base) ∪ (delta × delta). Banding a document depends only
    * on its own text, so the delta's band table unions against the
    * base's — in production the base side is the PERSISTED band index
    * read back from storage (the [[graft.ext.Similarity.ivfUpsert]]
    * fragment discipline), never recomputed; here both sides derive
    * from their doc tables. The candidate join keys the (small) delta
    * band table against base ∪ delta, so shuffle volume is
    * O(|delta| × bands + collided buckets) — NOT O(|base|²), which is
    * what re-running full-corpus dedup per day would cost. The exact
    * Jaccard verify runs on the joined band rows, which carry both
    * docs' shingles ([[minHashDeltaPairsFromIndex]]). Requires
    * disjoint id spaces.
    * Incremental ∪ previous-run pairs ≡ full-corpus pairs — the
    * union-parity property Ext8Spec pins. */
  def minHashLshDeltaPairs(baseDocs: DataFrame, deltaDocs: DataFrame,
      textCol: String, idCol: String, n: Int = 3, numPerms: Int = 16,
      rowsPerBand: Int = 4, threshold: Double = 0.5,
      seed: Long = 42L): DataFrame =
    minHashDeltaPairsFromIndex(
      minHashDocIndex(baseDocs, textCol, idCol, n, numPerms, rowsPerBand,
        seed),
      minHashDocIndex(deltaDocs, textCol, idCol, n, numPerms, rowsPerBand,
        seed),
      threshold)

  /** The STORABLE per-document dedup index row: (_id, _sh sorted
    * shingles, _bands array of (_bandNo, _bandKey) structs in
    * ascending band order) — one row per doc, the thing a daily
    * pipeline persists so tomorrow's delta joins against an index read
    * instead of re-shingling the corpus
    * ([[graft.streaming.DedupMaintenance]] lands exactly this schema
    * per micro-batch). Map-only: the docs are shingled once and the
    * band array is built in the same projection, with the keys of the
    * batch banding ([[minHashBandedPortable]] explodes this very
    * array), so there is no shuffle. */
  def minHashDocIndex(docs: DataFrame, textCol: String, idCol: String,
      n: Int = 3, numPerms: Int = 16, rowsPerBand: Int = 4,
      seed: Long = 42L): DataFrame =
    portableBands(sortedShingles(docs, textCol, idCol, n), numPerms,
      rowsPerBand, seed)

  /** [[minHashLshDeltaPairs]] over prebuilt [[minHashDocIndex]]
    * tables: the delta's band rows equi-join (band, key) against the
    * band rows of base ∪ delta, in ONE join stage.
    *
    *  - Each side's `_sh` and `_bands` ride through the join with its
    *    band rows, so the exact-Jaccard verify runs inline on the
    *    joined row: no shingle re-join, no pair `distinct`.
    *  - A pair colliding in several bands is emitted once, at its
    *    LOWEST colliding band: a joined row survives only if no
    *    earlier band of the two `_bands` arrays has equal keys.
    *  - A delta×delta pair meets itself in both orientations; only
    *    `_d < _o` survives. A delta×base pair has one orientation,
    *    since only the delta side drives the join.
    *
    * The planner picks the join strategy. When the delta is the
    * broadcast side, the corpus-sized base rows (arrays included)
    * stream through the hash probe where they are scanned and are
    * never shuffled. Requires id-disjoint `baseIdx` and `deltaIdx`,
    * both with the same band count. */
  def minHashDeltaPairsFromIndex(baseIdx: DataFrame, deltaIdx: DataFrame,
      threshold: Double): DataFrame = {
    def banded(idx: DataFrame, side: String): DataFrame = idx
      .select(col("_id").as(side), col("_sh").as(s"${side}sh"),
        col("_bands").as(s"${side}bands"), explode(col("_bands")).as("_b"))
      .select(col(side), col(s"${side}sh"), col(s"${side}bands"),
        col("_b._bandNo").as("_bandNo"), col("_b._bandKey").as("_bandKey"))
    val other = banded(baseIdx, "_o").withColumn("_oDelta", lit(false))
      .unionByName(banded(deltaIdx, "_o").withColumn("_oDelta", lit(true)))
    // both arrays ascend by _bandNo, so zip_with pairs up equal bands
    val earlierCollision = exists(
      zip_with(col("_dbands"), col("_obands"), (x, y) =>
        x.getField("_bandNo") < col("_bandNo") &&
          x.getField("_bandKey") === y.getField("_bandKey")),
      c => c)
    banded(deltaIdx, "_d")
      .join(other, Seq("_bandNo", "_bandKey"))
      .filter(col("_d") =!= col("_o") &&
        (!col("_oDelta") || col("_d") < col("_o")) && !earlierCollision)
      .withColumn("jaccard", graft.functions.VectorFunctions
        .jaccardSorted(col("_dsh"), col("_osh")))
      .filter(col("jaccard") >= threshold)
      .select(least(col("_d"), col("_o")).as("doc_a"),
        greatest(col("_d"), col("_o")).as("doc_b"), col("jaccard"))
  }

  /** Band-occupancy histogram of the portable MinHash-LSH banding:
    * for each band, how many buckets hold exactly `bucket_size` docs.
    * This is the tuning dashboard an operator reads before running the
    * pair join — the candidate-pair cost of band b is Σ C(size, 2)
    * over its buckets, so a fat bucket here IS the skew that would
    * blow up the self-join at 100 TB (the fix: more rows per band or a
    * hotter-bucket cap). Because every hash in the portable chain
    * replays in ANSI SQL, the full histogram — not just its row count —
    * carries a DuckDB oracle (q136), pinning the banding/bucketing
    * semantics.
    *
    * Scale shape: the doc×band rows are slim (id, band, key) triples;
    * two map-side-combinable aggregations, no join, no corpus-width
    * shuffle. */
  def minHashBandStats(docs: DataFrame, textCol: String, idCol: String,
      n: Int = 3, numPerms: Int = 16, rowsPerBand: Int = 4,
      seed: Long = 42L): DataFrame = {
    val (_, banded) =
      minHashBandedPortable(docs, textCol, idCol, n, numPerms, rowsPerBand,
        seed)
    banded.groupBy(col("_bandNo"), col("_bandKey"))
      .agg(count(lit(1)).as("_sz"))
      .groupBy(col("_bandNo").as("band"), col("_sz").as("bucket_size"))
      .agg(count(lit(1)).as("n_buckets"))
  }

  // ---- SimHash -----------------------------------------------------------

  /** SimHash near-pairs with the ENGINE-PORTABLE hash chain: distinct
    * whitespace tokens → rolling polynomial hash → [[graft.functions.SimHashPoly]]
    * majority-vote fingerprint from the public seeded (a_j, b_j)
    * reshuffles. Every arithmetic step replays in ANSI SQL, so the
    * whole hamming-pair surface — fingerprints, distances, the pair
    * set — carries a brute-force DuckDB oracle (q137). The oracle need not
    * replay the banding: pigeonhole banding has EXACT recall for
    * hamming ≤ maxDist, so banded pairs ≡ brute-force pairs, and the
    * oracle equivalence doubles as a recall proof of the banding
    * itself.
    *
    * Pigeonhole block-combination banding (Manku et al., WWW'07),
    * parameterized to the nBits-wide portable fingerprint: a pair within distance d shares at least chunks−d
    * untouched blocks, so it collides on ≥1 of the C(chunks, chunks−d)
    * packed block combinations. Shuffle = doc×combos slim rows; exact
    * bit_count(xor) verifies before the pair-dedup shuffle. */
  def simHashPairsPortable(docs: DataFrame, textCol: String, idCol: String,
      maxDist: Int = 2, chunks: Int = 4, nBits: Int = 48,
      seed: Long = 77L): DataFrame =
    simHashPairsFromTokenArrays(
      docs.select(col(idCol),
        array_distinct(filter(split(trim(col(textCol)), "\\s+"),
          t => length(t) > 0)).as("_ptk")),
      "_ptk", idCol, maxDist, chunks, nBits, seed)

  /** [[simHashPairsPortable]] over a caller-supplied token-array
    * column (already distinct-ed or not — distinctness is re-applied)
    * — the entry point for non-whitespace tokenizations: payload
    * byte-stream shingles (q182), code identifiers, URL path
    * segments. Same portable chain, same pigeonhole banding, same
    * oracle-equivalence contract. */
  def simHashPairsFromTokenArrays(docs: DataFrame, tokensCol: String,
      idCol: String, maxDist: Int = 2, chunks: Int = 4, nBits: Int = 48,
      seed: Long = 77L): DataFrame =
    hammingPairsFromFingerprints(
      docs.select(col(idCol),
          array_distinct(col(tokensCol)).as("_tk"))
        .filter(size(col("_tk")) > 0)
        .select(col(idCol), graft.functions.VectorFunctions.simHashPoly(
          graft.functions.VectorFunctions.polyHashAll(col("_tk")),
          nBits, seed).as("_fp")),
      idCol, "_fp", maxDist, chunks, nBits)

  /** Pigeonhole-banded Hamming self-join over PRECOMPUTED fingerprints
    * — the back half of [[simHashPairsFromTokenArrays]], exposed
    * directly for fingerprints that come from a DECODER rather than
    * token hashing (image dHash bits, [[Images.dHashNearDupPairs]];
    * audio chroma prints). Split the `nBits` fingerprint into
    * `chunks` blocks; any pair within Hamming `maxDist` shares
    * `chunks − maxDist` unchanged blocks, so joining on every
    * (chunks − maxDist)-combination of blocks has ZERO false
    * negatives — the same theorem q137 pins for text SimHash. Works
    * for full 64-bit fingerprints (sign bit included): blocks are
    * mask-extracted, so Java's arithmetic shift never leaks sign
    * bits. Returns (doc_a < doc_b, hamming ≤ maxDist), deduped
    * across bands. */
  def hammingPairsFromFingerprints(fps: DataFrame, idCol: String,
      fpCol: String, maxDist: Int, chunks: Int, nBits: Int): DataFrame = {
    val base = bandedFingerprints(fps, idCol, fpCol, maxDist, chunks,
      nBits)
    val a = base.select(col("_id").as("doc_a"), col("_fp").as("_fpa"),
      col("_cno"), col("_cv"))
    val b = base.select(col("_id").as("doc_b"), col("_fp").as("_fpb"),
      col("_cno"), col("_cv"))
    a.join(b, Seq("_cno", "_cv"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("_fpa").bitwiseXOR(col("_fpb"))).as("hamming"))
      .filter(col("hamming") <= maxDist)
      .dropDuplicates("doc_a", "doc_b")
  }

  /** The pigeonhole banding shared by the self- and delta-join
    * variants: (_id, _fp, _cno, _cv) — one row per fingerprint per
    * band combination, behind a keyed repartition barrier (the pair
    * join consumes it as BOTH sides, and without the cut each side
    * re-derives the fingerprints from the full corpus — measured 2×
    * the q182 chain; ReuseExchange serves both branches from one
    * computation, and nothing is pinned). */
  private def bandedFingerprints(fps: DataFrame, idCol: String,
      fpCol: String, maxDist: Int, chunks: Int, nBits: Int): DataFrame =
    fps.select(col(idCol).as("_id"), col(fpCol).as("_fp"))
      .repartition(col("_id"))
      .withColumn("_band",
        explode(array(bandStructs(col("_fp"), maxDist, chunks,
          nBits): _*)))
      .select(col("_id"), col("_fp"),
        col("_band.no").as("_cno"), col("_band.v").as("_cv"))

  /** The (no, v) band structs of one fingerprint column — the ONE
    * definition of the pigeonhole banding math, shared by the
    * self-/delta-join banding above and the land-time store banding
    * below. */
  private def bandStructs(fp: Column, maxDist: Int, chunks: Int,
      nBits: Int): Seq[Column] = {
    require(maxDist < chunks,
      s"pigeonhole recall guarantee needs maxDist < chunks " +
        s"(got maxDist=$maxDist, chunks=$chunks)")
    require(nBits % chunks == 0,
      s"chunks must divide nBits (got nBits=$nBits, chunks=$chunks)")
    val width = nBits / chunks
    require((chunks - maxDist) * width < 64,
      s"packed band key must fit 63 bits, got ${(chunks - maxDist) * width}")
    def block(c: Int): Column =
      shiftright(fp, c * width).bitwiseAND(lit((1L << width) - 1))
    val combos = (0 until chunks).combinations(chunks - maxDist).toSeq
    combos.zipWithIndex.map { case (combo, i) =>
      val packed = combo.map(block).reduce((acc, b) =>
        shiftleft(acc, width).bitwiseOR(b))
      struct(lit(i).as("no"), packed.as("v"))
    }
  }

  /** INCREMENTAL banded Hamming join: pairs TOUCHING the delta only —
    * delta×stored plus delta-internal — with banding work sized by
    * the delta side (the stored corpus is banded once as the join's
    * right side; no stored² pair enumeration anywhere — the same
    * delta discipline as [[minHashLshDeltaPairs]] and the suffix
    * family, extended to decoder fingerprints: a nightly media crawl
    * lands a delta, joins it against the stored fingerprint table,
    * appends, and never re-pairs the base). Same zero-false-negative
    * pigeonhole guarantee; pairs are (least, greatest)-normalized and
    * deduped, so delta-internal pairs (seen from both orientations)
    * emit once. `base` and `delta` must be id-disjoint (re-crawled
    * ids belong in the delta only). */
  def hammingDeltaPairsFromFingerprints(base: DataFrame, delta: DataFrame,
      idCol: String, fpCol: String, maxDist: Int, chunks: Int,
      nBits: Int): DataFrame = {
    val d = bandedFingerprints(delta, idCol, fpCol, maxDist, chunks,
      nBits)
    // band base and delta SEPARATELY and union the banded outputs
    // (banding is per-row, so this equals banding the union) — the
    // right side then shares the `d` subplan with the left side and
    // ReuseExchange serves both from one computation; banding the
    // union instead would re-derive the delta's upstream (a real
    // DECODE chain in the media callers) a second time
    val all = d.unionByName(
      bandedFingerprints(base, idCol, fpCol, maxDist, chunks, nBits))
    d.select(col("_id").as("_da"), col("_fp").as("_fpa"),
        col("_cno"), col("_cv"))
      .join(all.select(col("_id").as("_db"), col("_fp").as("_fpb"),
        col("_cno"), col("_cv")), Seq("_cno", "_cv"))
      .filter(col("_da") =!= col("_db"))
      .select(least(col("_da"), col("_db")).as("doc_a"),
        greatest(col("_da"), col("_db")).as("doc_b"),
        bit_count(col("_fpa").bitwiseXOR(col("_fpb"))).as("hamming"))
      .filter(col("hamming") <= maxDist)
      .dropDuplicates("doc_a", "doc_b")
  }

  /** LAND-TIME banding for a fingerprint STORE — the rows a banded
    * fingerprint fragment persists so the per-batch delta join never
    * re-bands (or re-shuffles) the accumulated store: one row per
    * fingerprint per pigeonhole band combination, `band` the combo
    * index, `band_key` the packed block values (the join key), and
    * `bucket = band_key mod nBuckets` — the COARSE key the store
    * prunes on (as a directory level or a sorted column with parquet
    * statistics, the store's choice), so a delta's bounded (band,
    * bucket) set skips everything it doesn't touch at the SCAN (the
    * file-level q250 discipline applied to store state). Same
    * pigeonhole parameters MUST be used at land time and join time —
    * the layout bakes (maxDist, chunks) in.
    *
    * MAP-ONLY on purpose (an explode, no shuffle barrier): the
    * maintenance callers hold the input behind a checkpoint and each
    * consumer re-derives this projection for pennies. `carryCols`
    * ride through the explode unchanged (e.g. a modality tag that
    * must end up in the store layout and the join key). */
  def bandedStoreRows(fps: DataFrame, idCol: String, fpCol: String,
      maxDist: Int, chunks: Int, nBits: Int, nBuckets: Int,
      carryCols: Seq[String] = Nil): DataFrame = {
    require(nBuckets >= 1)
    fps.withColumn("_band",
        explode(array(bandStructs(col(fpCol), maxDist, chunks,
          nBits): _*)))
      .select(Seq(col(idCol), col(fpCol),
        col("_band.v").as("band_key"),
        col("_band.no").cast("int").as("band"),
        pmod(col("_band.v"), lit(nBuckets.toLong)).cast("int")
          .as("bucket")) ++ carryCols.map(col): _*)
  }

  /** [[hammingDeltaPairsFromFingerprints]] with BOTH sides already in
    * [[bandedStoreRows]] form — the join a PRE-BANDED fingerprint
    * store runs per maintenance batch: no banding explode and no
    * store-side shuffle hide in here; the base arrives straight off a
    * partition-pruned fragment scan. Same zero-false-negative
    * pigeonhole guarantee, same (least, greatest) pair normalization,
    * deduped across bands; base and delta must be id-disjoint.
    * `extraKeys` join ALONGSIDE the band key and ride into the
    * output — a MIXED store puts its modality tag here, so one join
    * serves every modality and unlike kinds can never compare (the
    * key differs). */
  def hammingDeltaPairsPreBanded(baseBanded: DataFrame,
      deltaBanded: DataFrame, idCol: String, fpCol: String,
      maxDist: Int, extraKeys: Seq[String] = Nil): DataFrame = {
    def norm(df: DataFrame, ia: String, fa: String) =
      df.select(Seq(col(idCol).as(ia), col(fpCol).as(fa),
        col("band").cast("int").as("_cno"), col("band_key").as("_cv"))
        ++ extraKeys.map(col): _*)
    val d = norm(deltaBanded, "_da", "_fpa")
    val all = norm(deltaBanded, "_db", "_fpb")
      .unionByName(norm(baseBanded, "_db", "_fpb"))
    d.join(all, Seq("_cno", "_cv") ++ extraKeys)
      .filter(col("_da") =!= col("_db"))
      .select(Seq(least(col("_da"), col("_db")).as("doc_a"),
        greatest(col("_da"), col("_db")).as("doc_b"),
        bit_count(col("_fpa").bitwiseXOR(col("_fpb"))).as("hamming"))
        ++ extraKeys.map(col): _*)
      .filter(col("hamming") <= maxDist)
      .dropDuplicates("doc_a", "doc_b")
  }

  /** Eval-set n-gram contamination scores — the overlap metric the
    * GPT-3/PaLM decontamination appendices report (there with 8-13
    * grams; `n` is a parameter): for each eval document, the fraction
    * of its distinct word n-grams that occur ANYWHERE in the training
    * corpus. Complements [[crossJaccardPairs]] (doc-level pair
    * finding) with the gram-level audit that catches partial overlap
    * no single training doc dominates. Returns
    * (idCol, n_grams, n_hit, overlap).
    *
    * Scale shape: the train side collapses to a DISTINCT gram-key set
    * (one map-combinable aggregation — grams never carry doc ids); the
    * probe is a keyed left join of the (small) eval side's exploded
    * grams, then a per-doc count — no corpus×corpus work, and the
    * 100 TB variant substitutes xxhash64(gram) 8-byte keys with an
    * optional Bloom prefilter exactly as [[blocklistFilter]]. Raw
    * string grams here keep the surface ANSI-replayable (q141). */
  def gramOverlapScores(train: DataFrame, eval: DataFrame,
      textCol: String, idCol: String, n: Int = 3): DataFrame =
    gramOverlapAgainst(gramKeySet(train, textCol, n), eval,
      textCol, idCol, n)

  /** The DISTINCT word-n-gram key set of a corpus — the reusable half
    * of [[gramOverlapScores]] (one map-combinable aggregation). A
    * long-lived monitor derives it once from the static benchmark and
    * probes every arriving shard against it
    * ([[graft.streaming.DecontamStream]]). */
  def gramKeySet(docs: DataFrame, textCol: String, n: Int = 3): DataFrame =
    docs.select(explode(wordShingles(col(textCol), n)).as("_g"))
      .distinct()

  /** [[gramOverlapScores]] against a prebuilt [[gramKeySet]]: per
    * `eval` doc, the fraction of its distinct n-grams present in the
    * set. Probe-side only — the gram set is never re-derived. */
  def gramOverlapAgainst(grams: DataFrame, eval: DataFrame,
      textCol: String, idCol: String, n: Int = 3): DataFrame = {
    val eg = eval.select(col(idCol),
      explode(wordShingles(col(textCol), n)).as("_g"))
    eg.join(grams.withColumn("_hit", lit(1)), Seq("_g"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("_hit"), lit(0))).cast("long").as("n_hit"))
      .withColumn("overlap", col("n_hit").cast("double") / col("n_grams"))
  }

  /** Corpus-global line-frequency boilerplate removal — the CCNet-style
    * line dedup that precedes document dedup in crawl pipelines
    * (Wenzek et al., LREC 2020 run it per shard; the RefinedWeb line
    * filters assume it): a (trimmed, non-empty) line occurring in at
    * least `minDocFreq` DISTINCT documents is boilerplate (nav bars,
    * cookie banners, license footers) and is removed from every
    * document; unique lines, empty lines, and original line order are
    * preserved. Returns (idCol, clean_text).
    *
    * Scale shape: doc-frequency is one map-side-combinable aggregation
    * over per-doc-distinct slim (line-key) rows; the per-doc
    * boilerplate sets ride ONE corpus join on the id (only docs that
    * contain a frequent line have a right side), and removal is a
    * map-only array filter — document text is never exploded and
    * re-grouped. For PB corpora substitute xxhash64(line) for the raw
    * string key (same plan, 8-byte keys); the raw-string form here
    * keeps the whole surface ANSI-replayable (q140). */
  def lineDedupGlobal(docs: DataFrame, textCol: String, idCol: String,
      minDocFreq: Int = 3): DataFrame = {
    val ls = docs.select(col(idCol).as("_id"),
      split(col(textCol), "\n", -1).as("_ls"))
    val lines = ls.select(col("_id"), explode(col("_ls")).as("_line"))
      .select(col("_id"), trim(col("_line")).as("_k"))
      .filter(length(col("_k")) > 0)
      .distinct() // doc frequency counts a line once per doc
    val bad = lines.groupBy(col("_k"))
      .agg(count(lit(1)).as("_df"))
      .filter(col("_df") >= minDocFreq)
      .select(col("_k"))
    val badPerDoc = lines.join(bad, "_k")
      .groupBy(col("_id")).agg(collect_set(col("_k")).as("_bad"))
    ls.join(badPerDoc, Seq("_id"), "left")
      .select(col("_id").as(idCol),
        concat_ws("\n", filter(col("_ls"), y =>
          length(trim(y)) === 0 ||
            !array_contains(coalesce(col("_bad"),
              array().cast("array<string>")), trim(y)))).as("clean_text"))
  }

  /** Corpus-global PARAGRAPH-frequency boilerplate removal — the same
    * CCNet-style doc-frequency gate as [[lineDedupGlobal]] one
    * granularity up: a (trimmed, non-empty) paragraph — a blank-line
    * separated block, split on runs of 2+ newlines — appearing in at
    * least `minDocFreq` DISTINCT documents is boilerplate (repeated
    * bios, share widgets, multi-line footers that line-dedup only
    * shaves partially) and is removed whole. Surviving paragraphs are
    * re-joined canonically with a single blank line; paragraph order
    * is preserved, internal single newlines are untouched. Returns
    * (idCol, clean_text).
    *
    * Scale shape identical to [[lineDedupGlobal]]: one
    * map-side-combinable doc-frequency agg over per-doc-distinct
    * paragraph keys, one id-keyed join back (right side only for docs
    * containing a frequent paragraph), map-only array filter — text is
    * never exploded-and-regrouped. PB corpora: substitute
    * xxhash64(paragraph) keys, same plan. */
  def paragraphDedupGlobal(docs: DataFrame, textCol: String, idCol: String,
      minDocFreq: Int = 3): DataFrame = {
    val ps = docs.select(col(idCol).as("_id"),
      split(col(textCol), "\n{2,}", -1).as("_ps"))
    val paras = ps.select(col("_id"), explode(col("_ps")).as("_p"))
      .select(col("_id"), trim(col("_p")).as("_k"))
      .filter(length(col("_k")) > 0)
      .distinct() // doc frequency counts a paragraph once per doc
    val bad = paras.groupBy(col("_k"))
      .agg(count(lit(1)).as("_df"))
      .filter(col("_df") >= minDocFreq)
      .select(col("_k"))
    val badPerDoc = paras.join(bad, "_k")
      .groupBy(col("_id")).agg(collect_set(col("_k")).as("_bad"))
    ps.join(badPerDoc, Seq("_id"), "left")
      .select(col("_id").as(idCol),
        concat_ws("\n\n", filter(col("_ps"), y =>
          length(trim(y)) > 0 &&
            !array_contains(coalesce(col("_bad"),
              array().cast("array<string>")), trim(y)))).as("clean_text"))
  }

  // ---- blocklist ---------------------------------------------------------

  /** Remove corpus rows whose long key appears in a blocklist, with a
    * Bloom prefilter: the blocklist is sketched into a Bloom filter
    * (distributed treeAggregate via `stat.bloomFilter`, driver gets
    * only the bitset) and broadcast; rows the filter rejects are
    * definitely clean (no false negatives) and stream straight
    * through, while the (fpp-small) candidate fraction is verified by
    * an exact anti-join. At 100 TB this turns a full corpus×blocklist
    * shuffle into a map-side membership test plus an anti-join whose
    * left side is |corpus|·fpp + true hits. The membership test is
    * Spark's native `BloomFilterMightContain` over a binary-literal
    * sketch — the same expression AQE's runtime row-level filtering
    * injects — so it stays inside whole-stage codegen (a UDF here
    * would drop the scan projection out of codegen and block any
    * pushdown around it); it prunes 99%+ of rows before the only
    * shuffle.
    *
    * Exact semantics (the Bloom stage only prunes, never decides), so
    * the result equals `corpus WHERE NOT EXISTS (blocklist)` and is
    * DuckDB-checkable. NULL keys match nothing under NOT EXISTS, so
    * they route to the definitely-clean branch (the membership UDF
    * never sees them).
    *
    * `expectedItems` sizes the Bloom filter without running a separate
    * `count()` action over the blocklist — pass the known/approximate
    * blocklist cardinality when the caller has it (an overestimate
    * only wastes bits; an underestimate only raises the candidate
    * fraction, never correctness).
    *
    * The two branches each scan the corpus (two map-only, column-pruned
    * passes, shuffle = candidates only). That is deliberate: the
    * one-scan alternative — null-out clean keys and anti-join
    * everything — shuffles the FULL corpus width, which at 100 TB costs
    * far more than a second scan. Callers with an already-cached corpus
    * get one scan automatically. */
  def blocklistFilter(corpus: DataFrame, keyCol: String,
      bad: DataFrame, badKeyCol: String,
      fpp: Double = 0.01,
      expectedItems: Option[Long] = None): DataFrame = {
    val nBad = expectedItems.getOrElse(math.max(bad.count(), 1L))
    val bf = bad.stat.bloomFilter(badKeyCol, nBad, fpp)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      bos.toByteArray
    }
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val might = ColumnBridge.column(
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        ColumnBridge.expression(lit(bytes)),
        ColumnBridge.expression(col(keyCol).cast("long"))))
    // might_contain(null) is null; the isNull guard decides those rows
    // (true || null = true, false || b = b)
    val isClean = col(keyCol).isNull || !might
    val candidates = corpus.filter(!isClean)
      .join(bad.select(col(badKeyCol).as(keyCol)), Seq(keyCol), "left_anti")
    corpus.filter(isClean).unionByName(candidates)
  }
}
