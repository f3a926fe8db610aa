package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Deduplication operators for LLM training-data pipelines:
  * exact (hash group-by), MinHash+LSH near-dup, SimHash.
  *
  * Scale design (100 TB): every step is a narrow per-row map except the
  * final candidate join, which shuffles only on (band_idx, band_hash) —
  * i.e. proportional to candidate volume, not corpus². All hashes are
  * md5 (engine-portable, uniformly distributed). Exact-dedup is one
  * hash-aggregate; MinHash signatures ride the scan. The LSH band join
  * is the classic shingle→minhash→band→bucket-join pipeline; band
  * buckets are tiny in expectation, so skew salting is unnecessary
  * unless a degenerate near-constant corpus is expected (then salt the
  * band key with a shingle-count bucket).
  */
object Dedup {

  /** 5-char shingle set (distinct) of a text column. */
  def shingles(text: Column, k: Int = 5): Column =
    array_distinct(transform(
      sequence(lit(1), greatest(length(text) - (k - 1), lit(1))),
      i => text.substr(i, lit(k))))

  /** 60-bit md5-derived hash of one shingle (15 hex chars → always a
    * positive signed long; DuckDB: ('0x'||substr(md5(x),1,15))::BIGINT).
    * Native since r19 (guide §4): the digest-byte read replaces the
    * md5-hex → substring → conv radix parse, bit-identical
    * ([[graft.functions.Md5Hashing.h60]]; LlmSpec pins it against
    * [[shingleHashSql]]). */
  def shingleHash(x: Column): Column =
    graft.functions.Md5Prefix60.column(x)

  /** The pre-r19 built-in-chain form of [[shingleHash]] — kept as the
    * spec's independent reference implementation. */
  private[graft] def shingleHashSql(x: Column): Column =
    conv(substring(md5(x), 1, 15), 16, 10).cast("long")

  /** Distinct HASHED shingle set: the set-similarity workhorse at
    * scale. Long arrays are ~10× cheaper than string arrays to
    * materialize, shuffle and intersect (no per-element string hashing
    * in the verify join), and 60-bit collisions are negligible
    * (~n²/2^61 per doc). Jaccard over hashed sets is the standard
    * formulation in the MinHash literature. Native single-pass since
    * r19: one digest per shingle over one byte buffer, first-
    * occurrence-ordered distinct — value-identical INCLUDING element
    * order to [[hashedShinglesHof]] (LlmSpec pins it). */
  def hashedShingles(text: Column, k: Int = 5): Column =
    graft.functions.HashedShingles.column(text, k)

  /** The pre-r19 HOF form of [[hashedShingles]] — kept as the spec's
    * independent reference implementation. */
  private[graft] def hashedShinglesHof(text: Column, k: Int = 5): Column =
    array_distinct(transform(
      sequence(lit(1), greatest(length(text) - (k - 1), lit(1))),
      i => shingleHashSql(text.substr(i, lit(k)))))

  /** MinHash hash family: ONE md5 per shingle yields two 32-bit ints
    * (a, b); hash_i = (a + i·b) mod p — the classic affine family. This
    * is 12× fewer digest computations than hashing per (seed, shingle),
    * and md5 keeps every value engine-portable (DuckDB:
    * ('0x'||substr(md5(x),1,8))::BIGINT). */
  val MinhashP = 2147483647L // 2^31 - 1
  def hashA(x: Column): Column = conv(substring(md5(x), 1, 8), 16, 10).cast("long")
  def hashB(x: Column): Column = conv(substring(md5(x), 9, 8), 16, 10).cast("long")

  /** Column-form MinHash signature (array of `numHashes` longs).
    * NOTE: inside nested lambdas Spark re-evaluates md5 per (i, x) —
    * fine for ad-hoc/small use; bulk pipelines use
    * [[minhashSignatures]] (explode form, one md5 per shingle). */
  def minhashSignature(shingleArr: Column, numHashes: Int = 12): Column =
    transform(sequence(lit(0), lit(numHashes - 1)),
      i => array_min(transform(shingleArr,
        x => (hashA(x) + i * hashB(x)) % MinhashP)))

  /** Bulk MinHash: (id, sig) via explode→groupBy so each shingle is
    * digested exactly once; shuffle ∝ total shingle volume. Same values
    * as [[minhashSignature]] (LlmSpec asserts the equivalence). */
  def minhashSignatures(docsSh: DataFrame, numHashes: Int = 12): DataFrame = {
    val perShingle = docsSh.select(col("id"), explode(col("sh")).as("x"))
      .select(col("id"), hashA(col("x")).as("a"), hashB(col("x")).as("b"))
    perShingle.groupBy("id")
      .agg(min((col("a") + lit(0L) * col("b")) % MinhashP).as("m0"),
        (1 until numHashes).map(i =>
          min((col("a") + lit(i.toLong) * col("b")) % MinhashP).as(s"m$i")): _*)
      .select(col("id"),
        array((0 until numHashes).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** LSH band hashes from a signature: `numBands` bands of
    * `rowsPerBand` signature entries each, hashed to one value. */
  def bandHashes(sig: Column, numBands: Int = 4, rowsPerBand: Int = 2): Column =
    transform(sequence(lit(0), lit(numBands - 1)),
      b => md5(concat_ws("|",
        (0 until rowsPerBand).map(r => element_at(sig, b * rowsPerBand + lit(r + 1))): _*)))

  /** Band hashes truncated to 60-bit longs (15 hex chars of the same
    * md5). Longs are cheaper to shuffle and compare than 32-char hash
    * strings; candidate-set equality vs the string form is preserved
    * because both are functions of the same digest (a 60-bit collision
    * between distinct digests is ~n²/2^61 and the exact-Jaccard verify
    * guards even that). */
  def bandHashesLong(sig: Column, numBands: Int = 4, rowsPerBand: Int = 2): Column =
    transform(sequence(lit(0), lit(numBands - 1)),
      b => conv(substring(md5(concat_ws("|",
        (0 until rowsPerBand).map(r => element_at(sig, b * rowsPerBand + lit(r + 1))): _*)),
        1, 15), 16, 10).cast("long"))

  /** Exact Jaccard similarity of two (distinct-element) arrays of any
    * element type. |A∪B| is derived as |A|+|B|−|A∩B| so only ONE set
    * operation runs per pair (half the per-candidate cost of
    * intersect+distinct-union). */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b))
    inter.cast("double") / (size(a) + size(b) - inter)
  }

  /** [[jaccard]] for Array[Long] shingle sets — every verify path's
    * case. The intersection count is the native merge kernel since r19
    * (guide §1.2 step 2): `size(array_intersect(...))` built a boxed
    * hash set AND materialized the intersection array per candidate
    * pair — 4.6 s of q262's 5.3 s wall on 120 k pairs; the kernel is
    * value-identical including duplicate, null-element and null-array
    * semantics (FunctionsSpec pins it). */
  def jaccardLong(a: Column, b: Column): Column = {
    val inter = graft.functions.IntersectCountLong.column(a, b)
    inter.cast("double") / (size(a) + size(b) - inter)
  }

  /** Exact dedup: keep min id per md5 fingerprint, count members. */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_members"))

  /** MinHash+LSH near-duplicate pairs with exact-Jaccard verification.
    *
    * Pipeline: per-doc shingle set → minhash sig → band hashes →
    * explode to (band_idx, band_hash) → self-equi-join on the band key
    * (the ONLY shuffle) → distinct candidate pairs → verify with exact
    * Jaccard ≥ threshold.
    *
    * ==Cache-release contract==
    * The default (`materialize = false`) return is a LAZY plan pinned
    * on two persisted intermediates (the signature table and the
    * scored-pair CSE barrier). Those blocks stay cached until LRU
    * eviction — fine for run-and-exit jobs, a slow leak in a
    * long-lived session that calls this repeatedly. Long-lived callers
    * must pick one of:
    *   - `materialize = true` (plus `checkpointDir` on a real
    *     cluster): pairs are computed eagerly and every intermediate
    *     cache is released before return; or
    *   - [[withLshPairs]]: loan-pattern wrapper that consumes the lazy
    *     frame and releases the caches afterward.
    *
    * ==Band/row choice==
    * With r rows per band and b bands the candidate S-curve midpoint
    * is (1/b)^(1/r). The fixture corpus has high background
    * similarity (~0.1–0.15 jaccard — small shared vocabulary), so
    * r=3, b=4 (midpoint ≈ 0.63) keeps background pairs out of the
    * candidate set while planted near-dups (j > 0.8, band hit ≥ 94%)
    * survive — candidates stay O(dups), not O(corpus²), which is what
    * makes this hold at 1000× the data. */
  def lshPairs(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.5, numHashes: Int = 12, numBands: Int = 4,
      minAgree: Int = 6, materialize: Boolean = false,
      checkpointDir: Option[String] = None): DataFrame = {
    val (verified, caches) = lshPairsWithCaches(docs, idCol, textCol,
      threshold, numHashes, numBands, minAgree)
    if (!materialize) verified
    else materializeAndRelease(verified, checkpointDir, caches)
  }

  /** Loan-pattern [[lshPairs]] for long-lived sessions: computes the
    * lazy verified-pair frame, hands it to `f`, and releases every
    * intermediate cache once `f` returns — the no-leak way to consume
    * pairs without paying `materialize = true`'s extra
    * materialization. Letting the frame escape `f` is a PERFORMANCE
    * hazard, not a correctness one: after unpersist Spark simply
    * recomputes the lineage, but the CSE barrier is gone, so jaccard
    * and the minhash signatures are re-evaluated from scratch on
    * every later action. */
  def withLshPairs[A](docs: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.5, numHashes: Int = 12, numBands: Int = 4,
      minAgree: Int = 6)(f: DataFrame => A): A = {
    val (verified, caches) = lshPairsWithCaches(docs, idCol, textCol,
      threshold, numHashes, numBands, minAgree)
    try f(verified)
    finally caches.foreach(_.unpersist(blocking = false))
  }

  /** Per-call sequence for observed-metric names: CollectMetrics
    * names must be unique within one query, and a composed plan may
    * embed [[setSimJoinPairs]] more than once. */
  private val obsSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Pin a loan result: reliable checkpoint when a dir is given (the
    * right call on a real cluster — localCheckpoint blocks die with
    * their executor), executor-local otherwise (right for local
    * mode). The [[materializeAndRelease]] rule, reused by every
    * materialize-inside-the-loan consumer. */
  private def pin(df: DataFrame, checkpointDir: Option[String]): DataFrame =
    checkpointDir match {
      case Some(dir) => Lineage.withCheckpointDir(
        df.sparkSession.sparkContext, dir)(df.checkpoint(eager = true))
      case None => df.localCheckpoint(true)
    }

  /** Canonical-keeper resolution — the dedup pipeline's LAST MILE:
    * near-dup pairs → connected-component clusters → ONE survivor per
    * cluster by the keep-"best" rule (argmax `scoreCol`, tie → lower
    * id; pass a length column for the common keep-longest policy, a
    * quality score for keep-best-quality). Emits every input document
    * with its resolved cluster id, its score, and the keep decision —
    * the frame a filtering write actually consumes.
    *
    * Scale shape: pairs come from the banded LSH loan (candidates
    * O(dups)); clustering is [[graft.llm.Corpus.dupClusters]]
    * (byte-gated driver union-find / large-star); the keeper argmax
    * aggregates CLUSTERED docs only — volume ∝ duplicate count, never
    * the corpus — and singletons rejoin as their own keeper through
    * the left join's coalesce, shuffling only (id, score) pairs. */
  def clusterKeepers(docs: DataFrame, idCol: String, textCol: String,
      scoreCol: String, checkpointDir: Option[String] = None): DataFrame =
    withLshPairs(docs, idCol, textCol) { pairs =>
      val clusters = graft.llm.Corpus.dupClusters(pairs)
        .withColumnRenamed("id", idCol)
      val base = docs.select(col(idCol), col(scoreCol))
        .join(clusters, Seq(idCol), "left")
      val keepers = base.filter(col("cluster_id").isNotNull)
        .groupBy("cluster_id")
        .agg(max_by(col(idCol),
          struct(col(scoreCol), (-col(idCol)).as("__tb"))).as("__keeper"))
      // Materialize INSIDE the loan: the result otherwise escapes with
      // the signature/CSE-barrier caches already unpersisted, and
      // every later action re-runs the whole minhash/band/jaccard
      // chain — the exact hazard withLshPairs's doc warns against.
      // localCheckpoint pins the narrow (id, cluster, score, kept)
      // rows — corpus-cardinality but a few dozen bytes each — so the
      // LSH lineage is cut for good; values are written verbatim.
      pin(base.join(keepers, Seq("cluster_id"), "left")
        .select(col(idCol),
          coalesce(col("cluster_id"), col(idCol)).as("cluster_id"),
          col(scoreCol),
          coalesce(col(idCol) === col("__keeper"), lit(true)).as("kept")),
        checkpointDir)
    }

  /** Near-dup pair count as a function of the jaccard threshold —
    * the curve a dedup-policy owner reads BEFORE picking the cut: a
    * knee in pairs-vs-threshold separates the true-duplicate mass
    * from background similarity, and a curve that keeps climbing as
    * the threshold drops means the corpus (or the shingle width) has
    * a background-similarity problem. Thresholds must sit at or
    * above the LSH verify floor (0.5 — below it pairs were never
    * verified, and the curve would silently undercount).
    *
    * Scale shape: ONE LSH pass (the loan pattern; candidates
    * O(dups)) fans out to all thresholds via a |thresholds|-row
    * broadcast — the sweep costs one extra tiny aggregate, not one
    * LSH pass per point. The |thresholds|-row result materializes
    * inside the loan (clusterKeepers discipline). */
  def thresholdCurve(docs: DataFrame, idCol: String, textCol: String,
      thresholds: Seq[Double] = Seq(0.5, 0.6, 0.7, 0.8, 0.9),
      checkpointDir: Option[String] = None): DataFrame = {
    require(thresholds.nonEmpty && thresholds.forall(_ >= 0.5),
      s"thresholds must be >= the 0.5 LSH verify floor, got $thresholds")
    withLshPairs(docs, idCol, textCol) { pairs =>
      val ss = docs.sparkSession
      import ss.implicits._
      val th = thresholds.toDF("threshold")
      val counts = pairs.crossJoin(broadcast(th))
        .filter(col("jaccard") >= col("threshold"))
        .groupBy("threshold").agg(count(lit(1)).cast("long").as("n_pairs"))
      pin(th.join(counts, Seq("threshold"), "left")
        .select(col("threshold"),
          coalesce(col("n_pairs"), lit(0L)).as("n_pairs")), checkpointDir)
    }
  }

  /** Cross-source duplicate-flow matrix: verified near-dup pairs
    * bucketed by the UNORDERED pair of source labels — the
    * "who copies whom" readout a mixture owner reads next to the
    * threshold curve: a heavy (src_a, src_b) off-diagonal cell means
    * two crawls overlap and double-weight their shared content; a
    * heavy diagonal cell is a source self-duplicating. Emits
    * (source_a ≤ source_b, n_pairs, mean_jaccard).
    *
    * Scale shape: ONE LSH pass (loan pattern, candidates O(dups));
    * the source lookup joins the PAIR frame — duplicate-sized, never
    * corpus-sized — against the keyed (id, source) projection, and
    * the matrix fold is a ≤ |sources|²-row aggregate. mean_jaccard
    * follows the dsum discipline (exact DECIMAL sum, one final IEEE
    * division) so it hashes cross-engine. Result materializes inside
    * the loan (clusterKeepers discipline). */
  def dupFlowMatrix(docs: DataFrame, idCol: String, textCol: String,
      srcCol: String, checkpointDir: Option[String] = None): DataFrame =
    withLshPairs(docs, idCol, textCol) { pairs =>
      val dec = org.apache.spark.sql.types.DecimalType(30, 12)
      val src = docs.select(col(idCol), col(srcCol))
      val tagged = pairs
        .join(src.select(col(idCol).as("id_a"), col(srcCol).as("__sa")),
          Seq("id_a"))
        .join(src.select(col(idCol).as("id_b"), col(srcCol).as("__sb")),
          Seq("id_b"))
      pin(tagged
        .groupBy(least(col("__sa"), col("__sb")).as("source_a"),
          greatest(col("__sa"), col("__sb")).as("source_b"))
        .agg(count(lit(1)).as("n_pairs"),
          (sum(col("jaccard").cast(dec)).cast("double") /
            count(lit(1)).cast("double")).as("mean_jaccard")), checkpointDir)
    }

  /** Near-subset (containment) pairs over the SAME LSH candidate
    * family as [[lshPairs]]: candidates come from the jaccard-tuned
    * minhash bands, then score as |A∩B| / min(|A|,|B|) — the
    * asymmetric measure that catches a short document living inside a
    * longer one (quote farms, boilerplate-wrapped reposts) where
    * symmetric jaccard dilutes below threshold.
    *
    * Scope (documented, not hidden): recall is the band index's —
    * a tiny fragment inside a huge page hashes to different bands and
    * needs a dedicated size-stratified containment index; this
    * operator resolves DIRECTION and degree among near-dup
    * candidates. Output: one row per candidate pair with
    * `containment >= threshold`, the smaller-set side as
    * `contained_id` (ties → lower id, consistent with the oracle's
    * `len(a) <= len(b)` rule).
    *
    * Same cache contract as [[lshPairs]]: default return is lazy on
    * pinned intermediates; `materialize = true` releases them. */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8, numHashes: Int = 12, numBands: Int = 4,
      minAgree: Int = 6, materialize: Boolean = false,
      checkpointDir: Option[String] = None): DataFrame = {
    val (cand, base, base0) = lshCandidatesWithCaches(docs, idCol, textCol,
      numHashes, numBands, minAgree)
    val sa = size(col("sh_a"))
    val sb = size(col("sh_b"))
    val inter = graft.functions.IntersectCountLong.column(col("sh_a"), col("sh_b"))
    // persist(): the CSE barrier (the lshPairsWithCaches discipline) —
    // without it the containment expression evaluates once for the
    // threshold predicate and once for the output column
    val sc = cand
      .join(base.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(base.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .select(
        when(sa <= sb, col("id_a")).otherwise(col("id_b")).as("contained_id"),
        when(sa <= sb, col("id_b")).otherwise(col("id_a")).as("container_id"),
        (inter.cast("double") / least(sa, sb)).as("containment"))
      .persist()
    val out = sc.filter(col("containment") >= threshold)
    if (!materialize) out
    else materializeAndRelease(out, checkpointDir, Seq(sc, base0))
  }

  /** Shared LSH candidate generation: returns (candidate (id_a,id_b)
    * pairs after the band join + signature prefilter, the cached
    * (id, sig, sh) base, the persisted root to release). */
  private def lshCandidatesWithCaches(docs: DataFrame, idCol: String,
      textCol: String, numHashes: Int, numBands: Int,
      minAgree: Int): (DataFrame, DataFrame, DataFrame) = {
    // Pipeline shape, chosen for 100 TB:
    //  1. shingle sets computed once, persisted;
    //  2. signatures via explode→groupBy so each shingle is md5'd
    //     exactly once (no reliance on expression CSE), shuffle volume
    //     proportional to total shingle count — inherent to minhash;
    //  3. band self-join carries only (id, band) keys;
    //  4. cheap prefilter: ≥ minAgree of numHashes signature components
    //     must agree (12 long compares) before the expensive exact
    //     Jaccard (hundreds of string hashes) runs per candidate.
    // signatures + hashed shingle sets in ONE digest pass via the
    // native expression (graft.functions.MinHashShingles) — a narrow
    // map in the scan stage. Shingle sets are computed once per doc
    // (not per pair): with a high-collision corpus the prefilter can
    // still pass tens of thousands of pairs, and per-pair re-shingling
    // (graft.functions.JaccardShingles — the right tool when
    // candidates ≈ dups) measured 3× slower here. The repartition is a
    // parallelism floor: digesting is the compute-dense stage of the
    // whole pipeline, and unsplittable input files must not serialize
    // it onto one core (sf0.1 measured 4.4 s → 0.3 s). persist() of
    // the raw struct is the CSE barrier guaranteeing the expression
    // runs once even though two fields are projected from it; the
    // cache is also read three times (band join ×2, verify joins).
    // Default (lazy) callers leave it pinned until LRU eviction —
    // pass materialize=true in a long-lived session to compute the
    // verified pairs eagerly and release every intermediate cache
    // (checkpointDir ⇒ reliable checkpoint instead of executor-local
    // blocks, the right mode on a real cluster).
    val par = docs.sparkSession.sparkContext.defaultParallelism
    val base0 = docs.repartition(par).select(col(idCol).as("id"),
      graft.functions.MinHashShingles
        .column(col(textCol), numHashes).as("ms")).persist()
    val base = base0.select(col("id"),
      col("ms.sig").as("sig"), col("ms.sh").as("sh"))

    // Candidate generation WITHOUT a distinct: each colliding pair is
    // emitted exactly once, at its FIRST agreeing band — the classic
    // dedup-by-construction trick. The signature rides the band join
    // (12 longs ≪ the shingle set), so the agreement prefilter runs
    // directly on the join output: no candidate distinct, no
    // sig-attach joins — one shuffle where the textbook pipeline
    // spends four.
    val banded = base.select(col("id"), col("sig"),
      bandHashesLong(col("sig"), numBands, numHashes / numBands).as("bh"))
      .select(col("id"), col("sig"), col("bh"),
        posexplode(col("bh")).as(Seq("band_idx", "band_hash")))
    val prefiltered = banded
      .select(col("band_idx"), col("band_hash"), col("id").as("id_a"),
        col("sig").as("sig_a"), col("bh").as("bh_a"))
      .join(banded.select(col("band_idx"), col("band_hash"), col("id").as("id_b"),
        col("sig").as("sig_b"), col("bh").as("bh_b")),
        Seq("band_idx", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      // first agreeing band only: no earlier band index matches
      .filter(size(filter(zip_with(
        slice(col("bh_a"), lit(1), col("band_idx")),
        slice(col("bh_b"), lit(1), col("band_idx")),
        (x, y) => x === y), p => p)) === 0)
      // ≥ minAgree of numHashes signature components must agree (12
      // long compares) before the expensive exact Jaccard (array
      // intersection over hundreds of elements) runs per candidate
      .filter(size(filter(zip_with(col("sig_a"), col("sig_b"),
        (x, y) => x === y), p => p)) >= minAgree)
      .select("id_a", "id_b")
    (prefiltered, base, base0)
  }

  private def lshPairsWithCaches(docs: DataFrame, idCol: String,
      textCol: String, threshold: Double, numHashes: Int, numBands: Int,
      minAgree: Int): (DataFrame, Seq[DataFrame]) = {
    val (prefiltered, base, base0) = lshCandidatesWithCaches(docs, idCol,
      textCol, numHashes, numBands, minAgree)
    // persist() barrier: without it Catalyst collapses the projection
    // into the filter and evaluates the jaccard expression twice per
    // pair (once for the predicate, once for the output column). The
    // return is LAZY — an eager checkpoint here measured 2–5× on
    // every consumer (one extra materialization per call) and hides
    // the band join from downstream optimization; lazy also stays
    // recomputable after executor loss.
    val sc = scored(prefiltered, base).persist()
    val verified = sc.filter(col("jaccard") >= threshold)
    (verified, Seq(sc, base0))
  }

  /** Exact-Jaccard verification of candidate pairs against the cached
    * (id, sh) table. The candidate frame takes a PARALLELISM FLOOR
    * first (r19): its bytes are tiny (16 B/pair), so byte-based AQE
    * coalescing was packing the whole compute-dense verify (two set
    * fetches + the intersect kernel per pair) onto 1-2 partitions —
    * the repartition binds the verify to cores at a cost of one
    * id-pair-sized shuffle, the same floor rule the digest stages
    * use. */
  private def scored(prefiltered: DataFrame, base: DataFrame): DataFrame =
    prefiltered
      .repartition(prefiltered.sparkSession.sparkContext.defaultParallelism)
      .join(base.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(base.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), jaccardLong(col("sh_a"), col("sh_b")).as("jaccard"))

  /** Opt-in eager materialization for long-lived sessions: compute the
    * (small) verified-pair artifact in one action, then release every
    * intermediate cache so repeated dedup runs don't accumulate
    * signature blocks until LRU eviction. `checkpointDir` selects a
    * reliable (recomputable-after-executor-loss is moot: the data IS
    * on stable storage) checkpoint instead of executor-local blocks —
    * the right call on a real cluster, where localCheckpoint blocks
    * die with their executor. Default callers skip all of this: the
    * lazy plan is both faster and loss-tolerant. */
  private def materializeAndRelease(result: DataFrame,
      checkpointDir: Option[String], caches: Seq[DataFrame]): DataFrame = {
    val sc = result.sparkSession.sparkContext
    try checkpointDir match {
      case Some(dir) =>
        Lineage.withCheckpointDir(sc, dir)(result.checkpoint(eager = true))
      case None => result.localCheckpoint(true)
    } finally caches.foreach(_.unpersist(blocking = false))
  }

  /** Signature table for INCREMENTAL dedup: (id, sig, sh, bh) per doc —
    * the artifact a production pipeline persists (bucketed by band
    * hash) so each ingest batch joins against it instead of
    * re-dedupling the whole corpus. */
  def signatureTable(docs: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 12, numBands: Int = 4): DataFrame = {
    val par = docs.sparkSession.sparkContext.defaultParallelism
    docs.repartition(par).select(col(idCol).as("id"),
      graft.functions.MinHashShingles
        .column(col(textCol), numHashes).as("ms"))
      .select(col("id"), col("ms.sig").as("sig"), col("ms.sh").as("sh"))
      .withColumn("bh", bandHashesLong(col("sig"), numBands, numHashes / numBands))
  }

  /** b-bit minwise jaccard estimation (Li & König, WWW'10 — "b-bit
    * minwise hashing"): keep only the lowest `b` bits of each minhash
    * coordinate — numHashes·b bits per signature instead of
    * numHashes·32 — and estimate jaccard from the b-bit AGREEMENT
    * rate with the uniform-collision correction
    * Ĵ = (P̂ − C)/(1 − C), C = 2⁻ᵇ (two non-equal minima agree on
    * their low b bits with probability ≈ 2⁻ᵇ under the affine
    * family's near-uniform spread; the paper's refined C₁/C₂ terms
    * matter only at extreme sparsity). Emits every band-blocked
    * candidate pair with the estimate BESIDE the exact shingle
    * jaccard — the error readout that justifies shipping b-bit
    * sketches: a 32/b× smaller signature store is the difference
    * between a 100 TB dedup index that fits executor memory and one
    * that doesn't.
    *
    * Scale shape: the [[lshPairs]] band contract — candidates come
    * from the band-key equi-join, never corpus²; the b-bit agreement
    * is a numHashes-element fold over arrays already co-located by
    * the candidate join; exact-vs-estimate runs on candidates only.
    * The signature pass (one md5 per shingle) feeds THREE consumers
    * (band explode + both pair sides), so it is persisted for the
    * run and released on return under the default
    * `materialize = true` (the [[sortedNeighborPairs]] loan rule —
    * the result is candidate-pair-sized, cheap to pin eagerly);
    * `materialize = false` hands back the lazy plan WITH the cache
    * held (the [[lshPairs]] lazy contract: plan inspection and
    * one-shot sessions own the release). */
  def bbitJaccardEst(docs: DataFrame, idCol: String, textCol: String,
      b: Int = 4, numHashes: Int = 12, numBands: Int = 4,
      materialize: Boolean = true,
      checkpointDir: Option[String] = None): DataFrame = {
    require(b >= 1 && b <= 16, s"b must be in [1,16], got $b")
    require(numBands >= 1 && numHashes % numBands == 0,
      s"numHashes=$numHashes must divide into numBands=$numBands")
    val sp = docs.sparkSession
    val modulus = 1L << b
    val c = 1.0 / modulus.toDouble
    val base = docs.repartition(sp.sparkContext.defaultParallelism)
      .select(col(idCol).as("id"),
        graft.functions.MinHashShingles
          .column(col(textCol), numHashes).as("ms"))
      .select(col("id"), col("ms.sig").as("sig"), col("ms.sh").as("sh"))
      .withColumn("bh",
        bandHashesLong(col("sig"), numBands, numHashes / numBands))
      .persist()
    val bands = base.select(col("id"),
      posexplode(col("bh")).as(Seq("band_idx", "band_hash")))
    val pairs = bands.as("x").join(bands.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
          col("x.band_hash") === col("y.band_hash") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()
      // parallelism floor before the verify (the `scored` rule, r19):
      // 16 B/pair candidates coalesce to 1-2 partitions under
      // byte-based AQE and serialize the agree+jaccard kernels
      .repartition(sp.sparkContext.defaultParallelism)
    val withSides = pairs
      .join(base.select(col("id").as("id_a"), col("sig").as("__sa"),
        col("sh").as("__ha")), Seq("id_a"))
      .join(base.select(col("id").as("id_b"), col("sig").as("__sb"),
        col("sh").as("__hb")), Seq("id_b"))
    val agree = size(filter(zip_with(col("__sa"), col("__sb"),
      (x, y) => pmod(x, lit(modulus)) === pmod(y, lit(modulus))),
      p => p)).cast("long")
    val pHat = col("n_agree").cast("double") / lit(numHashes.toDouble)
    val result = withSides
      .withColumn("n_agree", agree)
      .select(col("id_a"), col("id_b"), col("n_agree"),
        ((pHat - lit(c)) / (lit(1.0) - lit(c))).as("j_bbit_est"),
        jaccardLong(col("__ha"), col("__hb")).as("jaccard"))
    if (materialize) materializeAndRelease(result, checkpointDir, Seq(base))
    else result
  }

  /** Incremental near-dup pairs: verified pairs that involve at least
    * one NEW document — new×existing and new×new, never
    * existing×existing (that work was done when those docs arrived).
    * Per batch the band join probes only the new docs' band keys, so
    * cost scales with BATCH size against corpus index size, not
    * corpus². Pair orientation follows the min-id keeper convention
    * (id_a < id_b), so survivors compose across batches. */
  def incrementalLshPairs(newSigs: DataFrame, existingSigs: DataFrame,
      threshold: Double = 0.5, numBands: Int = 4, minAgree: Int = 6,
      materialize: Boolean = false,
      checkpointDir: Option[String] = None): DataFrame = {
    // Cache-release contract: same as [[lshPairs]] — the default lazy
    // return pins one persisted intermediate (the scored-pair CSE
    // barrier). A long-lived ingest loop calls with materialize=true
    // (per batch the verified-pair artifact is small and consumed
    // immediately, so the eager compute is the natural mode here).
    def banded(sigs: DataFrame) = sigs.select(col("id"), col("sig"), col("bh"),
      posexplode(col("bh")).as(Seq("band_idx", "band_hash")))
    val newB = banded(newSigs)
    val allB = banded(existingSigs.unionAll(newSigs))
    val newIds = newSigs.select(col("id").as("__new_id"))
    val prefiltered = newB
      .select(col("band_idx"), col("band_hash"), col("id").as("id_x"),
        col("sig").as("sig_x"), col("bh").as("bh_x"))
      .join(allB.select(col("band_idx"), col("band_hash"), col("id").as("id_y"),
        col("sig").as("sig_y"), col("bh").as("bh_y")),
        Seq("band_idx", "band_hash"))
      .filter(col("id_x") =!= col("id_y"))
      // canonicalize orientation, then dedupe the new×new double-emit
      // (both sides probe) by keeping only the id_a-probed row
      .select(
        least(col("id_x"), col("id_y")).as("id_a"),
        greatest(col("id_x"), col("id_y")).as("id_b"),
        col("band_idx"),
        when(col("id_x") < col("id_y"), col("bh_x")).otherwise(col("bh_y")).as("bh_a"),
        when(col("id_x") < col("id_y"), col("bh_y")).otherwise(col("bh_x")).as("bh_b"),
        when(col("id_x") < col("id_y"), col("sig_x")).otherwise(col("sig_y")).as("sig_a"),
        when(col("id_x") < col("id_y"), col("sig_y")).otherwise(col("sig_x")).as("sig_b"),
        (col("id_x") < col("id_y")).as("__probed_by_a"))
      .filter(size(filter(zip_with(
        slice(col("bh_a"), lit(1), col("band_idx")),
        slice(col("bh_b"), lit(1), col("band_idx")),
        (x, y) => x === y), p => p)) === 0)
      .filter(size(filter(zip_with(col("sig_a"), col("sig_b"),
        (x, y) => x === y), p => p)) >= minAgree)
      // new×new pairs collide from BOTH probes — keep one; new×old
      // pairs appear once (only the new side probes)
      .join(newIds, col("id_a") === col("__new_id"), "left")
      .filter(col("__new_id").isNull || col("__probed_by_a"))
      .select("id_a", "id_b")
    val all = existingSigs.unionAll(newSigs)
    // same lazy-by-default / opt-in-materialize discipline (and the
    // same jaccard-CSE persist barrier) as [[lshPairs]]
    val sc = scored(prefiltered, all).persist()
    val verified = sc.filter(col("jaccard") >= threshold)
    if (!materialize) verified
    else materializeAndRelease(verified, checkpointDir, Seq(sc))
  }

  /** Surviving ids after near-dup removal: drop any doc that has a
    * verified near-duplicate with a smaller id (greedy min-id keeper,
    * deterministic). */
  def lshSurvivors(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.5): DataFrame = {
    val dead = lshPairs(docs, idCol, textCol, threshold)
      .select(col("id_b").as("drop_id")).distinct()
    docs.join(dead, docs(idCol) === dead("drop_id"), "left_anti")
      .select(col(idCol))
  }

  /** 16-bit SimHash over whitespace tokens, one md5 nibble per bit:
    * bit j set iff ≥ half the tokens have a high j-th nibble. */
  def simhash16(text: Column): Column = {
    val toks = TextAnalysis.tokens(text)
    aggregate(sequence(lit(0), lit(15)), lit(0L),
      (acc, j) => acc + when(
        size(filter(toks, t =>
          contains(lit("89abcdef"), md5(t).substr(j + 1, lit(1))))) * 2 >= size(toks),
        pow(lit(2), j).cast("long")).otherwise(lit(0L)))
  }

  /** Group docs by identical simhash (hamming-0 buckets); near-dup
    * buckets at hamming ≤ d come from banding the 16 bits. Bulk path:
    * the native one-digest-per-token expression
    * (graft.functions.SimHash16) with the same parallelism floor as
    * [[lshPairs]] — digesting is the compute-dense stage and an
    * unsplittable input file must not serialize it onto one core. */
  def simhashGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val par = docs.sparkSession.sparkContext.defaultParallelism
    docs.repartition(par)
      .select(col(idCol), graft.functions.SimHash16
        .column(TextAnalysis.tokens(col(textCol))).as("simhash"))
      .groupBy("simhash")
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("keeper_id"))
      .filter(col("n_docs") > 1)
  }

  /** Paragraph-level exact dedup (RefinedWeb / Penedo et al. 2023:
    * duplicated paragraphs are removed even when the containing pages
    * differ). Paragraphs are fixed `paraTokens`-token chunks of the
    * normalized token stream (a pipeline over real web data splits on
    * blank lines instead — the downstream shape is identical), keyed
    * by md5 so any engine reproduces the key. Emits per-document
    * counts: total paragraphs, paragraphs whose content occurs more
    * than once corpus-wide, the duplicate fraction, and the
    * RefinedWeb-style flag at `maxDupFrac`.
    *
    * Shape: explode to (doc, para-hash) → per-occurrence global count
    * as a WINDOW over the hash (one shuffle keyed by the hash — a
    * groupBy-count + join-back would shuffle the occurrence stream on
    * the same key TWICE for the same answer) → per-doc re-aggregate.
    * Both shuffles key on high-cardinality values, so the plan
    * survives 100 TB; nothing is ever corpus² and no driver state. */
  def paragraphStats(docs: DataFrame, idCol: String, textCol: String,
      paraTokens: Int = 10, maxDupFrac: Double = 0.3): DataFrame = {
    val toks = TextAnalysis.tokens(col(textCol))
    val nPar = floor((size(toks) + lit(paraTokens - 1)).cast("double") / paraTokens)
      .cast("int")
    val paras = transform(sequence(lit(0), nPar - 1),
      i => md5(concat_ws(" ", slice(toks, i * paraTokens + lit(1), lit(paraTokens)))))
    // no parallelism floor: one md5 per ~paraTokens tokens is light
    // (contrast substringStats' one md5 PER token), and the plan gate
    // pins that every exchange here keys on the hash or the doc id
    val ex = docs.select(col(idCol), explode(paras).as("ph"))
    ex.withColumn("gcnt", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("ph"))))
      .groupBy(idCol)
      .agg(
        count(lit(1)).cast("long").as("n_paragraphs"),
        sum(when(col("gcnt") > 1, 1L).otherwise(0L)).cast("long")
          .as("n_dup_paragraphs"))
      .withColumn("dup_frac",
        col("n_dup_paragraphs").cast("double") / col("n_paragraphs"))
      .withColumn("para_dup_flagged", col("dup_frac") > maxDupFrac)
  }

  /** Substring-level exact dedup (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better": duplicate token
    * spans of length ≥ `windowTokens` are detected ANYWHERE in the
    * corpus — across documents, within a document, and straddling any
    * chunk boundary). The published implementation builds a suffix
    * array; the distributed equivalent here slides an OVERLAPPING
    * `windowTokens`-token window over every document (stride 1) and
    * md5-keys each window: a span of L ≥ windowTokens duplicated
    * tokens produces exactly L − windowTokens + 1 duplicated windows,
    * so duplicated-window positions reconstruct duplicated-token
    * coverage exactly. This is precisely what fixed-chunk paragraph
    * hashing ([[paragraphStats]]) misses: a duplicate span straddling
    * a chunk boundary hashes into two different paragraphs on each
    * side and is invisible there (LlmSpec plants that case).
    *
    * Documents shorter than the window emit ONE window over their
    * whole token stream (short exact-duplicates still surface; spans
    * shorter than `windowTokens` are below the detection threshold by
    * definition, per the paper's length cutoff).
    *
    * Emits per document: token/window counts, duplicated-window
    * count, `dup_tokens` = tokens covered by ≥ 1 duplicated window
    * (union of [pos, pos+w) intervals, computed from the SORTED dup
    * positions as w + Σ min(gap, w) — no per-token explode), the
    * covered fraction, and a flag at `maxDupFrac`.
    *
    * Shape (identical to [[paragraphStats]], ~w× the rows): explode to
    * (doc, pos, window-hash) → ONE hash aggregate on the
    * high-cardinality 60-bit window hash keeps only duplicated hashes
    * (volume ∝ duplicates) → broadcast-join them back over the
    * exploded stream → per-doc aggregate of the duplicated windows
    * only. The interval-union runs on the per-doc dup-position ARRAY
    * inside the aggregate — every exchange after the first is bounded
    * by duplicate volume, never corpus², and there is no full-stream
    * sort and no driver state, so the plan survives 100 TB. */
  def substringStats(docs: DataFrame, idCol: String, textCol: String,
      windowTokens: Int = 8, maxDupFrac: Double = 0.2,
      stride: Int = 1): DataFrame = {
    val w = windowTokens
    val toks = TextAnalysis.tokens(col(textCol))
    // m ≥ w → m − w + 1 overlapping windows; m < w → one whole-doc
    // window (sequence stays ascending/non-empty in both cases).
    // stride > 1 subsamples window starts — coverage becomes
    // approximate (a duplicated span is seen by ⌈(L−w+1)/stride⌉
    // windows instead of all of them) in exchange for stride× less
    // explode/shuffle volume; stride=1 is the exact Lee et al. shape.
    val starts = sequence(lit(1), greatest(size(toks) - (w - 1), lit(1)),
      lit(stride))
    // 60-bit long window key (shingleHash), not the 32-char md5
    // string: the occurrence aggregate below shuffles on wh, and 8
    // bytes vs ~44 (string bytes + overhead) is ~4× less shuffle
    // volume on the dominant exchange. Collisions
    // (~n²/2^61) would have to pair two windows ACROSS the whole
    // corpus to miscount by one — negligible against the detection
    // use case, and the DuckDB oracle applies the identical
    // truncation so the gate stays exact.
    val wins = transform(starts, i => struct(
      (i - 1).cast("int").as("pos"),
      shingleHash(concat_ws(" ", slice(toks, i, lit(w)))).as("wh")))
    // DUPLICATES-ARE-RARE shape. The textbook plan (global occurrence
    // count as a window function over wh, then re-aggregate every
    // window row per doc) SORTS the full exploded stream and then
    // shuffles all of it a second time for the per-doc counts.
    // Instead, ONE hash aggregate over wh carries the occurrence list
    // (id, pos) alongside the count — same single full-stream shuffle
    // the window version pays, but hash-aggregated instead of sorted —
    // and everything after the gcnt > 1 filter is proportional to
    // DUPLICATE volume: the occurrence explode, the per-doc
    // aggregate, and the final join back onto the (id, n_tokens)
    // projection (broadcast-sized dup side). Per-group state is
    // bounded by a window's occurrence count, so no skew hazard short
    // of a corpus-dominating repeated window. n_windows needs no
    // counting at all — it is a closed form of n_tokens.
    // parallelism floor (the lshPairs rule): window hashing is the
    // compute-dense stage; an unsplittable input file must not
    // serialize 3M md5s onto one core
    val par = docs.sparkSession.sparkContext.defaultParallelism
    val ex = docs.repartition(par).select(col(idCol), explode(wins).as("win"))
      .select(col(idCol), col("win.pos").as("pos"), col("win.wh").as("wh"))
    val dupPerDoc = ex.groupBy(col("wh"))
      .agg(count(lit(1)).as("gcnt"),
        collect_list(struct(col(idCol), col("pos"))).as("occ"))
      .filter(col("gcnt") > 1)
      .select(explode(col("occ")).as("o"))
      .select(col(s"o.$idCol").as(idCol), col("o.pos").as("pos"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).cast("long").as("n_dup_windows"),
        // sort_array pins the (otherwise unspecified) collection
        // order so the gap fold is deterministic
        sort_array(collect_list(col("pos"))).as("dps"))
    val k = size(col("dps"))
    val gapSum = aggregate(
      zip_with(slice(col("dps"), lit(1), greatest(k - 1, lit(0))),
        slice(col("dps"), lit(2), greatest(k - 1, lit(0))),
        (a, b) => least(b - a, lit(w))),
      lit(0L), (acc, v) => acc + v.cast("long"))
    // n_windows = |sequence(1, max(m−w+1, 1), stride)| in closed form
    val nWin = (floor(((greatest(col("n_tokens") - (w - 1), lit(1)) - 1)
      / lit(stride)).cast("double")) + 1).cast("long")
    docs.select(col(idCol), size(toks).cast("long").as("n_tokens"))
      .join(dupPerDoc, Seq(idCol), "left")
      .withColumn("n_windows", nWin)
      .withColumn("n_dup_windows", coalesce(col("n_dup_windows"), lit(0L)))
      .withColumn("dps", coalesce(col("dps"), array().cast("array<int>")))
      .withColumn("dup_tokens", least(
        when(k === 0, lit(0L)).otherwise(lit(w.toLong) + gapSum),
        col("n_tokens"))) // whole-doc pseudo-window of a short doc covers < w tokens
      .drop("dps")
      .withColumn("dup_token_frac",
        col("dup_tokens").cast("double") / col("n_tokens"))
      .withColumn("substr_dup_flagged", col("dup_token_frac") > maxDupFrac)
      .select(col(idCol), col("n_tokens"), col("n_windows"),
        col("n_dup_windows"), col("dup_tokens"), col("dup_token_frac"),
        col("substr_dup_flagged"))
  }

  /** The WRITE path of substring-level dedup (Lee et al. 2022 §3:
    * "we remove all but one occurrence"): [[substringStats]] flags,
    * this REWRITES — every duplicated window keeps its globally FIRST
    * occurrence (min (doc, pos)), and all other occurrences' token
    * ranges are dropped from their documents, rebuilding each text
    * from the surviving tokens (whitespace/case-normalized by the
    * shared tokenizer, like every token-level op here).
    *
    * Keeper choice is per WINDOW, so overlapping duplicated spans
    * resolve consistently: each window hash's occurrences are ranked
    * by (doc, pos) and all but rank 1 emit a drop interval
    * [pos, pos+w); a document's kept tokens are those covered by NO
    * drop interval (HOF exists over the per-doc sorted drop
    * positions — no per-token explode).
    *
    * Shape: one full-stream shuffle on the 60-bit window key (the
    * [[substringStats]] exchange) feeding a per-window-hash rank —
    * WindowExec's sorted, SPILL-SAFE group buffer, deliberately not a
    * collect_list occurrence aggregate, whose unspillable per-group
    * arrays grow with a window's corpus-wide occurrence count (the
    * round-15 contention finding); everything after the rank-1 filter
    * — the per-doc drop-list aggregate, the join back onto
    * (id, tokens) — is proportional to DUPLICATE volume. The rebuild
    * is a narrow per-row map. Survives 100 TB for the same reasons
    * substringStats does. */
  def substringDedupTexts(docs: DataFrame, idCol: String, textCol: String,
      windowTokens: Int = 8): DataFrame = {
    val w = windowTokens
    val toks = TextAnalysis.tokens(col(textCol))
    val starts = sequence(lit(1), greatest(size(toks) - (w - 1), lit(1)))
    val wins = transform(starts, i => struct(
      (i - 1).cast("int").as("pos"),
      shingleHash(concat_ws(" ", slice(toks, i, lit(w)))).as("wh")))
    val par = docs.sparkSession.sparkContext.defaultParallelism
    val ex = docs.repartition(par).select(col(idCol), explode(wins).as("win"))
      .select(col(idCol), col("win.pos").as("pos"), col("win.wh").as("wh"))
    // BOUNDED-STATE keeper resolution: rank each occurrence within its
    // window hash by (id, pos) — rank 1 is the keeper, every later
    // rank emits a drop interval. One shuffle on the 60-bit window key
    // (same exchange the previous hash-aggregate paid), but WindowExec
    // sorts and streams each group through a spill-safe row buffer,
    // where the previous sort_array(collect_list(struct(id, pos)))
    // held a window's ENTIRE corpus-wide occurrence list in one
    // unspillable aggregation buffer — the board's biggest aggregation
    // working set and a 24x median blow-up under co-located memory
    // pressure (round-15 bench finding). A hyper-duplicated window now
    // costs disk spill instead of executor heap. Values are identical:
    // rank order (id, pos) IS the previous sort_array order, and
    // rank > 1 implies the old gcnt > 1 filter.
    val occRank = row_number().over(
      Window.partitionBy(col("wh")).orderBy(col(idCol), col("pos")))
    val drops = ex.withColumn("__rn", occRank)
      .filter(col("__rn") > 1)
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("pos"))).as("dps"))
    val dps = coalesce(col("dps"), array().cast("array<int>"))
    // kept = 0-based token indices covered by no drop interval
    val keptIdx = filter(
      sequence(lit(0), size(col("toks")) - 1),
      i => !exists(dps, d => i >= d && i < d + w))
    docs.select(col(idCol), toks.as("toks"))
      .join(drops, Seq(idCol), "left")
      .select(col(idCol),
        size(col("toks")).cast("long").as("n_tokens"),
        (size(col("toks")) - size(keptIdx)).cast("long").as("n_dropped"),
        array_join(
          transform(keptIdx, i => element_at(col("toks"), i + 1)), " ")
          .as("clean_text"))
  }

  /** Leakage-safe train/val/test assignment: every near-dup CLUSTER
    * lands wholly in one split, so no evaluation document has a
    * near-duplicate sitting in training data — the split a benchmark
    * owner actually needs (hash-splitting raw ids, q58-style, leaks
    * whenever duplicates straddle the cut). The split key is the
    * cluster id (min member id, [[graft.llm.Corpus.dupClusters]]'s
    * canonical root); singletons key on their own id, which keeps the
    * marginal split fractions at the configured 80/10/10 while pinning
    * cluster atomicity.
    *
    * Scale shape: pairs come from the banded LSH loan (O(dups), never
    * corpus²); the cluster frame is duplicate-sized; one left join
    * rejoins singletons; the split itself is a narrow md5-bucket map
    * ([[graft.llm.Corpus.split]]). Result materializes inside the loan
    * (clusterKeepers discipline) so the LSH caches can release. */
  def leakageSplit(docs: DataFrame, idCol: String, textCol: String,
      trainPct: Int = 80, valPct: Int = 10,
      checkpointDir: Option[String] = None): DataFrame =
    withLshPairs(docs, idCol, textCol) { pairs =>
      val clusters = graft.llm.Corpus.dupClusters(pairs)
        .withColumnRenamed("id", idCol)
      val rooted = docs.select(col(idCol))
        .join(clusters, Seq(idCol), "left")
        .select(col(idCol),
          coalesce(col("cluster_id"), col(idCol)).as("split_root"))
      pin(rooted.withColumn("split",
        graft.llm.Corpus.split(col("split_root"), trainPct, valPct)),
        checkpointDir)
    }

  /** SoftDeDup-style sampling weights: instead of DROPPING near-dup
    * losers (clusterKeepers), keep every document and downweight each
    * near-dup cluster to unit total mass — w(doc) = 1 / |cluster|, a
    * singleton keeps w = 1. The weighted corpus then feeds the
    * weighted samplers ([[graft.llm.Corpus]]) so repeated content
    * contributes once in expectation while rare phrasing inside the
    * duplicates still surfaces. Total weight mass Σw = number of
    * CLUSTERS (each cluster sums to exactly 1); the design-effect
    * effective sample size ESS = (Σw)² / Σw² = C² / Σ_c 1/k_c, which
    * sits between C (all clusters equal-sized) and n (no dups) — the
    * spec pins both identities.
    *
    * Scale shape: identical to [[clusterKeepers]] — duplicate-sized
    * cluster frame, one count aggregate on cluster_id, one left join
    * back to (id)-only rows; the weight is a narrow map. Result pins
    * inside the loan. */
  def softDedupWeights(docs: DataFrame, idCol: String, textCol: String,
      checkpointDir: Option[String] = None): DataFrame =
    withLshPairs(docs, idCol, textCol) { pairs =>
      val clusters = graft.llm.Corpus.dupClusters(pairs)
        .withColumnRenamed("id", idCol)
      val sizes = clusters.groupBy("cluster_id")
        .agg(count(lit(1)).as("__csz"))
      val base = docs.select(col(idCol))
        .join(clusters.join(sizes, Seq("cluster_id")), Seq(idCol), "left")
      pin(base.select(col(idCol),
        coalesce(col("cluster_id"), col(idCol)).as("cluster_id"),
        coalesce(col("__csz"), lit(1L)).cast("long").as("cluster_size"),
        (lit(1.0) / coalesce(col("__csz"), lit(1L)).cast("double"))
          .as("weight")),
        checkpointDir)
    }

  /** Per-group dedup savings: how many documents and TOKENS the
    * keep-best near-dup resolution ([[clusterKeepers]]) removes from
    * each source — the number that justifies (or kills) a dedup pass
    * before anyone runs it at full scale, and the per-source
    * duplication-rate scoreboard afterwards. `dup_token_frac` is the
    * fraction of a group's token mass carried by non-keeper
    * duplicates.
    *
    * Scale shape: one [[clusterKeepers]] pass (LSH loan, duplicate-
    * sized clustering), one keyed join of its narrow (id, kept) frame
    * back onto (id, group, token-count) rows, one map-side-combined
    * group aggregate. Token counts are exact BIGINTs. */
  def dedupSavings(docs: DataFrame, idCol: String, textCol: String,
      groupCol: String, scoreCol: String,
      checkpointDir: Option[String] = None): DataFrame = {
    val keepers = clusterKeepers(docs, idCol, textCol, scoreCol,
      checkpointDir)
    docs.select(col(idCol), col(groupCol),
        size(TextAnalysis.tokens(col(textCol))).cast("long").as("__tok"))
      .join(keepers.select(col(idCol), col("kept")), Seq(idCol))
      .groupBy(col(groupCol))
      .agg(
        count(lit(1)).cast("long").as("n_docs"),
        sum(when(col("kept"), 1L).otherwise(0L)).cast("long")
          .as("n_kept_docs"),
        sum(col("__tok")).cast("long").as("n_tokens"),
        sum(when(col("kept"), col("__tok")).otherwise(0L)).cast("long")
          .as("n_kept_tokens"))
      .withColumn("dup_token_frac",
        when(col("n_tokens") > 0,
          (col("n_tokens") - col("n_kept_tokens")).cast("double")
            / col("n_tokens").cast("double")))
  }

  /** Near-dup cluster-size histogram: (cluster_size → n_clusters,
    * n_docs) including the singleton row — the SHAPE of the corpus's
    * duplication (a fat tail of large clusters means template spam /
    * mirror farms and predicts big keeper savings; all-pairs-of-two
    * means organic near-misses). The first chart on any dedup
    * dashboard.
    *
    * Scale shape: one LSH loan pass, duplicate-sized clustering, a
    * cluster-keyed count, then a ≤ \|distinct sizes\|-row histogram
    * fold; the singleton count is total − clustered, two scalar
    * aggregates. Loan-materialized. */
  def clusterSizeDist(docs: DataFrame, idCol: String, textCol: String,
      checkpointDir: Option[String] = None): DataFrame =
    withLshPairs(docs, idCol, textCol) { pairs =>
      val clusters = graft.llm.Corpus.dupClusters(pairs)
      val sizes = clusters.groupBy("cluster_id")
        .agg(count(lit(1)).as("cluster_size"))
      val hist = sizes.groupBy("cluster_size")
        .agg(count(lit(1)).as("n_clusters"))
      val nDocs = docs.select(count(lit(1)).as("__total"))
      val nClustered = clusters.select(count(lit(1)).as("__clustered"))
      val singletons = nDocs.crossJoin(broadcast(nClustered))
        .select(lit(1L).as("cluster_size"),
          (col("__total") - col("__clustered")).as("n_clusters"))
      pin(hist.unionByName(singletons)
        .filter(col("n_clusters") > 0)
        .select(col("cluster_size").cast("long").as("cluster_size"),
          col("n_clusters").cast("long").as("n_clusters"),
          (col("cluster_size") * col("n_clusters")).cast("long")
            .as("n_docs")),
        checkpointDir)
    }

  /** Analytic LSH S-curves — the (bands, rows) PLANNER: for each
    * candidate banding of the minhash signature, the probability a
    * doc pair at jaccard t becomes an LSH candidate,
    * P = 1 − (1 − t^r)^b. Read next to [[thresholdCurve]] (measured
    * pairs-vs-threshold) to pick the banding whose S-curve knee sits
    * on the policy threshold: more bands → catches lower-t pairs but
    * more verify work; more rows per band → sharper cutoff. The
    * engine default (12 hashes = 4 bands × 3 rows) is the first
    * config.
    *
    * Determinism: powers unroll into multiplication chains at plan
    * build (configs are literals), so both engines evaluate identical
    * IEEE multiply sequences — no pow() portability hazard. Pure
    * math, |configs|·steps rows, no data touched. */
  def lshTuningCurve(spark: org.apache.spark.sql.SparkSession,
      configs: Seq[(Int, Int)] = Seq((4, 3), (2, 6), (3, 4), (6, 2)),
      steps: Int = 19): DataFrame = {
    require(steps >= 1 && configs.nonEmpty, "need configs and steps")
    configs.map { case (b, r) =>
      require(b >= 1 && r >= 1, s"bad LSH config ($b, $r)")
      val t = col("id").cast("double") / lit((steps + 1).toDouble)
      val tr = (1 to r).map(_ => t).reduce(_ * _)
      val q = lit(1.0) - tr
      val qb = (1 to b).map(_ => q).reduce(_ * _)
      spark.range(1, steps + 1).select(
        lit(b.toLong).as("bands"),
        lit(r.toLong).as("rows_per_band"),
        t.as("threshold"),
        (lit(1.0) - qb).as("p_candidate"))
    }.reduce(_.union(_))
  }

  /** Sorted-neighborhood near-dup pairs (Hernández & Stolfo 1995, the
    * OTHER classic dedup blocking beside LSH bands): sort the corpus
    * by a locality key — the 16-bit simhash, so similar texts land
    * adjacent — and verify exact shingle jaccard only between docs
    * within `window` positions of each other in that order. Finds a
    * different recall profile than minhash-LSH (simhash locality is
    * weighted-token-set, LSH bands are shingle-set sample agreement),
    * which is why production dedup stacks run both and union the
    * pairs.
    *
    * Scale shape: the GLOBAL sort order is realized WITHOUT a global
    * sort — the two-level banded rank (within-band `row_number` on
    * the band shuffle + a 2^bandBits-row broadcast offset table,
    * the budgetSelect construction). Candidates are the exact global
    * (rank, rank+d) adjacencies for d < window, produced by a keyed
    * equi-join on the rank (each row explodes into window−1 probe
    * keys — O(n·window) candidate stream, never n²). Verification
    * intersects each doc's PRECOMPUTED hashed shingle set
    * ([[hashedShingles]]) — shingling runs once per doc, not
    * 2·(window−1) times per doc as a per-pair re-shingle would, and
    * the long arrays shuffle ~10× cheaper than the texts they
    * replace (measured 4.78 → 0.64 s min at sf0.1, window 4). */
  /** Manku-Jain-Das Sarma simhash near-dup pairs (WWW'07 — "Detecting
    * near-duplicates for web crawling", the algorithm behind Google's
    * crawl dedup): 60-bit SimHash per document, split into 4 disjoint
    * 15-bit blocks; by pigeonhole, any pair within Hamming distance
    * ≤ 3 agrees EXACTLY on at least one block, so candidates are the
    * 4 block-keyed equi-joins and the verify is one
    * `bit_count(xor)` — no estimate anywhere, the recall for
    * hamming ≤ maxHamming is exactly 1 by construction (for
    * maxHamming < 4). The third member of the dedup-blocking family:
    * minhash-LSH samples SHINGLE-SET agreement, sorted-neighborhood
    * exploits sort-key LOCALITY, simhash blocks bound HAMMING
    * distance on the weighted-token fingerprint.
    *
    * Scale shape: the fingerprint is a zero-shuffle scan rider
    * (native [[graft.functions.SimHash60]] kernel, one md5 per
    * token); candidates shuffle on (block, value) — Σ bucket² per
    * block, never n² (the Manku paper's table-probe, expressed as a
    * join); verify is a 64-bit xor+popcount per candidate. A pair
    * agreeing on several blocks is counted once (the canonical
    * (id_a < id_b) pair is distinct-ed before verify — cheaper than
    * verifying duplicates). */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"pigeonhole with 4 blocks certifies maxHamming <= 3, got $maxHamming")
    val sp = docs.sparkSession
    val base = docs.repartition(sp.sparkContext.defaultParallelism)
      .select(col(idCol).as("id"),
        graft.functions.SimHash60.column(TextAnalysis.tokens(col(textCol))).as("sh"))
    val blocks = base.select(col("id"), col("sh"),
      explode(array((0 until 4).map(i => struct(lit(i).as("blk"),
        shiftright(col("sh"), 15 * i).bitwiseAND(lit(32767L))
          .as("bval"))): _*)).as("__b"))
      .select(col("id"), col("sh"), col("__b.blk").as("blk"),
        col("__b.bval").as("bval"))
    val cands = blocks.as("a").join(blocks.as("b"),
        col("a.blk") === col("b.blk") && col("a.bval") === col("b.bval") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.sh").as("__sa"), col("b.sh").as("__sb"))
      .distinct()
    cands
      .withColumn("hamming",
        bit_count(col("__sa").bitwiseXOR(col("__sb"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** The COMPOSED production dedup pipeline: all three blockers the
    * engine ships — minhash-LSH ([[lshPairs]], shingle-set-sample
    * agreement), sorted-neighborhood ([[sortedNeighborPairs]],
    * sort-key locality), and Manku simhash blocks ([[simhashPairs]],
    * bounded hamming on the weighted-token fingerprint) — run over
    * the SAME corpus, their pair streams unioned into one canonical
    * candidate set, and resolved by connected components
    * ([[graft.llm.Corpus.dupClusters]], min-id labels). This is the
    * call a real dedup stack makes: each blocker has recall holes the
    * others cover (LSH misses low-jaccard/high-semantic pairs that
    * simhash's weighted vote catches; simhash's hamming bound misses
    * long-doc partial overlap that shingle jaccard catches; the
    * neighborhood window catches near-sorted clusters both hash
    * schemes split), and the union is what the keeper policy
    * downstream actually consumes.
    *
    * Output: (id, cluster_id) for every document that shares a
    * component with at least one other — the dupClusters contract
    * (singletons excluded).
    *
    * Scale shape: each blocker keeps its own bounded candidate
    * contract (band-key shuffle / O(n·window) rank adjacency /
    * Σ bucket² per 15-bit block — nothing corpus²); the union is
    * pair-stream-sized, distinct-ed BEFORE clustering because true
    * duplicates trip all three blockers and tripled edges would
    * inflate the CC input for nothing; clustering is the byte-gated
    * driver union-find with the large-star/small-star distributed
    * fallback. LSH intermediates are consumed through the
    * [[withLshPairs]] loan and dupClusters is eager on both paths,
    * so every cache is released by return. */
  def blockedDedupClusters(docs: DataFrame, idCol: String, textCol: String,
      lshThreshold: Double = 0.5, snWindow: Int = 4,
      snThreshold: Double = 0.5, maxHamming: Int = 3,
      checkpointDir: Option[String] = None): DataFrame = {
    val (pairs, caches) = blockedPairsWithCaches(docs, idCol, textCol,
      lshThreshold, snWindow, snThreshold, maxHamming)
    try graft.llm.Corpus.dupClusters(pairs, checkpointDir = checkpointDir)
    finally caches.foreach(_.unpersist(blocking = false))
  }

  /** The three-blocker pair UNION of [[blockedDedupClusters]] without
    * the clustering tail — the canonical (id_a < id_b) near-dup edge
    * set a production pipeline PERSISTS between runs: the composed
    * backfill writes this artifact once, and every nightly batch
    * appends [[incrementalBlockedDedupPairs]]' new-involving delta to
    * it before re-closing components. Same one-scan shared
    * fingerprint prep, same bounded candidate contracts, same
    * [[materializeAndRelease]] loan in the default eager form. The
    * lazy form (`materialize = false`) hands back the plan with the
    * INTERNAL shared-prep caches still pinned and NO handle to
    * release them — it leaks both cached frames until LRU eviction or
    * session end (the [[setSimJoinPairs]] warning, verbatim), so
    * reserve it for one-shot sessions that consume the plan at once. */
  def blockedDedupPairs(docs: DataFrame, idCol: String, textCol: String,
      lshThreshold: Double = 0.5, snWindow: Int = 4,
      snThreshold: Double = 0.5, maxHamming: Int = 3,
      materialize: Boolean = true,
      checkpointDir: Option[String] = None): DataFrame = {
    val (pairs, caches) = blockedPairsWithCaches(docs, idCol, textCol,
      lshThreshold, snWindow, snThreshold, maxHamming)
    if (materialize) materializeAndRelease(pairs, checkpointDir, caches)
    else pairs
  }

  private def blockedPairsWithCaches(docs: DataFrame, idCol: String,
      textCol: String, lshThreshold: Double, snWindow: Int,
      snThreshold: Double, maxHamming: Int): (DataFrame, Seq[DataFrame]) = {
    require(snWindow >= 2, s"window must be >= 2, got $snWindow")
    require(maxHamming >= 0 && maxHamming <= 3,
      s"pigeonhole with 4 blocks certifies maxHamming <= 3, got $maxHamming")
    val sp = docs.sparkSession
    val par = sp.sparkContext.defaultParallelism
    // ONE corpus scan computes every fingerprint the three blockers
    // need — minhash sigs + hashed shingle sets (LSH candidates and
    // BOTH jaccard verifies), the 16-bit simhash sort key, the 60-bit
    // simhash blocks — where calling the three public functions
    // back-to-back scans and re-digests the text three times. At
    // 100 TB that is the difference between one pass over the corpus
    // and three; the candidate constructions below are verbatim
    // replicas of lshPairs / sortedNeighborPairs / simhashPairs over
    // the shared prep (LlmSpec pins exact pair-set equality with the
    // three public functions, so the replicas cannot drift).
    val toks = graft.llm.TextAnalysis.tokens(col(textCol))
    // ONE digest per token for BOTH simhash widths (SimHash1660, r19):
    // the split SimHash16 + SimHash60 pair digested every token twice
    val prep = docs.repartition(par).select(col(idCol).as("id"),
        graft.functions.MinHashShingles
          .column(col(textCol), 12).as("ms"),
        graft.functions.SimHash1660.column(toks).as("sh"))
      .select(col("id"), col("ms.sig").as("sig"), col("ms.sh").as("shs"),
        col("sh.sh16").as("sh16"), col("sh.sh60").as("sh60"))
      .persist()

    // --- LSH blocker (the lshCandidatesWithCaches construction) ---
    val bandedL = prep.select(col("id"), col("sig"),
        bandHashesLong(col("sig"), 4, 3).as("bh"))
      .select(col("id"), col("sig"), col("bh"),
        posexplode(col("bh")).as(Seq("band_idx", "band_hash")))
    val lshCand = bandedL
      .select(col("band_idx"), col("band_hash"), col("id").as("id_a"),
        col("sig").as("sig_a"), col("bh").as("bh_a"))
      .join(bandedL.select(col("band_idx"), col("band_hash"),
        col("id").as("id_b"), col("sig").as("sig_b"), col("bh").as("bh_b")),
        Seq("band_idx", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .filter(size(filter(zip_with(
        slice(col("bh_a"), lit(1), col("band_idx")),
        slice(col("bh_b"), lit(1), col("band_idx")),
        (x, y) => x === y), p => p)) === 0)
      .filter(size(filter(zip_with(col("sig_a"), col("sig_b"),
        (x, y) => x === y), p => p)) >= 6)
      .select("id_a", "id_b")
      // parallelism floor before the verify (the `scored` rule, r19)
      .repartition(par)
    val lsh = lshCand
      .join(prep.select(col("id").as("id_a"), col("shs").as("sh_a")),
        Seq("id_a"))
      .join(prep.select(col("id").as("id_b"), col("shs").as("sh_b")),
        Seq("id_b"))
      .filter(jaccardLong(col("sh_a"), col("sh_b")) >= lshThreshold)
      .select(col("id_a"), col("id_b"))

    // --- sorted-neighborhood blocker (the sortedNeighborPairs
    //     two-level-rank construction, parallelism-derived bands) ---
    val bb = math.min(16, math.max(8,
      64 - java.lang.Long.numberOfLeadingZeros(math.max(1, par * 4L - 1))))
    val ranked = prep.select(col("id"), col("shs"), col("sh16").as("sh"))
      .withColumn("band", shiftright(col("sh"), 16 - bb))
      .withColumn("rn", row_number().over(
        Window.partitionBy("band").orderBy(col("sh"), col("id"))))
    val offs = ranked.groupBy("band").agg(count(lit(1)).as("bc"))
      .withColumn("off", coalesce(sum(col("bc")).over(
        Window.orderBy("band")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("band"), col("off"))
    val g = ranked.join(broadcast(offs), Seq("band"))
      .select(col("id"), col("shs"), (col("off") + col("rn")).as("gr"))
      .persist()
    val probes = g.select(col("id").as("__ia"), col("shs").as("__sa"),
        explode(sequence(lit(1), lit(snWindow - 1))).as("d"), col("gr"))
      .select(col("__ia"), col("__sa"), (col("gr") + col("d")).as("gk"))
    val snInter = graft.functions.IntersectCountLong.column(col("__sa"), col("__sb"))
    val snJac = snInter.cast("double") /
      (size(col("__sa")) + size(col("__sb")) - snInter).cast("double")
    val sn = probes.join(
        g.select(col("gr").as("gk"), col("id").as("__ib"),
          col("shs").as("__sb")), Seq("gk"))
      .withColumn("jaccard", snJac)
      .filter(col("jaccard") >= snThreshold)
      .select(least(col("__ia"), col("__ib")).as("id_a"),
        greatest(col("__ia"), col("__ib")).as("id_b"))

    // --- simhash blocker (the simhashPairs pigeonhole blocks) ---
    val blocks = prep.select(col("id"), col("sh60").as("sh"),
        explode(array((0 until 4).map(i => struct(lit(i).as("blk"),
          shiftright(col("sh60"), 15 * i).bitwiseAND(lit(32767L))
            .as("bval"))): _*)).as("__b"))
      .select(col("id"), col("sh"), col("__b.blk").as("blk"),
        col("__b.bval").as("bval"))
    val sim = blocks.as("a").join(blocks.as("b"),
        col("a.blk") === col("b.blk") && col("a.bval") === col("b.bval") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.sh").as("__sa60"), col("b.sh").as("__sb60"))
      .distinct()
      .filter(bit_count(col("__sa60").bitwiseXOR(col("__sb60")))
        .cast("long") <= maxHamming)
      .select(col("id_a"), col("id_b"))

    // all three emit canonical (id_a < id_b) pairs by construction
    val pairs = lsh.unionByName(sn).unionByName(sim).distinct()
    (pairs, Seq(g, prep))
  }

  /** INCREMENTAL composed blocked dedup pairs — the nightly call of a
    * production 100 TB dedup pipeline (q256/[[blockedDedupClusters]]
    * is the backfill, THIS is the steady state): given the three
    * persisted per-blocker artifacts ([[signatureTable]],
    * [[sortKeyTable]], [[simhashTable]]) and a new-docs batch, emit
    * the canonical (id_a < id_b) near-dup pairs involving at least
    * one batch document, discovered by ALL THREE blockers — exactly
    * the full-run three-blocker pairs on existing ∪ batch restricted
    * to batch-involving (LlmSpec pins the set equality), with
    * new×(existing∪new) candidate streams only: existing×existing
    * work is never re-done (the per-blocker incremental contracts of
    * q127/q264/q274, composed).
    *
    * ONE scan of the BATCH computes every fingerprint family the
    * three probes need (the [[blockedDedupClusters]] shared-prep
    * idea applied to the delta); the three incremental probes then
    * run over artifact frames only — the batch text is never
    * re-digested per blocker, and the EXISTING corpus text is never
    * touched at all.
    *
    * Scale shape: LSH probes only the batch's band keys against the
    * stored band table; simhash probes the batch's 15-bit blocks
    * (Σ batch-bucket sizes, never corpus²); sorted-neighborhood
    * re-ranks bare (id, 16-bit key) records over stored ∪ batch —
    * the one blocker whose GLOBAL order forces a corpus-keys pass,
    * but with shingle sets fetched by keyed id join for the
    * batch-involving candidates only. Each sub-probe materializes
    * its (small) pair artifact eagerly and releases its caches; the
    * returned union is eager-rooted and the batch prep cache is
    * released before return. */
  def incrementalBlockedDedupPairs(sigTable: DataFrame,
      sortKeys: DataFrame, fpTable: DataFrame, newDocs: DataFrame,
      idCol: String, textCol: String, lshThreshold: Double = 0.5,
      snWindow: Int = 4, snThreshold: Double = 0.5, maxHamming: Int = 3,
      checkpointDir: Option[String] = None): DataFrame = {
    require(snWindow >= 2, s"window must be >= 2, got $snWindow")
    require(maxHamming >= 0 && maxHamming <= 3,
      s"pigeonhole with 4 blocks certifies maxHamming <= 3, got $maxHamming")
    val sp = newDocs.sparkSession
    val par = sp.sparkContext.defaultParallelism
    val toks = graft.llm.TextAnalysis.tokens(col(textCol))
    // one digest pass over the batch: minhash sigs + hashed shingles
    // + both simhash widths (the blockedDedupClusters prep, on the
    // delta only)
    val prep = newDocs.repartition(par).select(col(idCol).as("id"),
        graft.functions.MinHashShingles
          .column(col(textCol), 12).as("ms"),
        graft.functions.SimHash1660.column(toks).as("sh"))
      .select(col("id"), col("ms.sig").as("sig"), col("ms.sh").as("shs"),
        col("sh.sh16").as("sh16"), col("sh.sh60").as("sh60"))
      .persist()
    try {
      // column names/order mirror the three artifact tables exactly —
      // the incremental probes union the frames positionally
      val newSigs = prep.select(col("id"), col("sig"),
          col("shs").as("sh"))
        .withColumn("bh", bandHashesLong(col("sig"), 4, 3))
      val newSk = prep.select(col("id"), col("shs"),
        col("sh16").as("sh"))
      val newFps = prep.select(col("id"), col("sh60").as("sh"))
      incrementalBlockedDedupPairsFromArtifacts(newSigs, newSk, newFps,
        sigTable, sortKeys, fpTable, lshThreshold, snWindow,
        snThreshold, maxHamming, checkpointDir)
    } finally prep.unpersist(blocking = false)
  }

  /** [[incrementalBlockedDedupPairs]] when the BATCH artifacts are
    * already on hand (the streaming admission path computes one
    * shared prep per epoch and reuses it for both the probe and the
    * store appends — see
    * [[graft.streaming.StreamingPipeline.startBlockedCorpusIngest]]).
    * `newSigs`/`newSk`/`newFps` follow the [[signatureTable]] /
    * [[sortKeyTable]] / [[simhashTable]] schemas; the result is
    * eager-pinned (callers hold whatever caches back the artifact
    * frames). */
  def incrementalBlockedDedupPairsFromArtifacts(newSigs: DataFrame,
      newSk: DataFrame, newFps: DataFrame, sigTable: DataFrame,
      sortKeys: DataFrame, fpTable: DataFrame,
      lshThreshold: Double = 0.5, snWindow: Int = 4,
      snThreshold: Double = 0.5, maxHamming: Int = 3,
      checkpointDir: Option[String] = None): DataFrame = {
    require(snWindow >= 2, s"window must be >= 2, got $snWindow")
    require(maxHamming >= 0 && maxHamming <= 3,
      s"pigeonhole with 4 blocks certifies maxHamming <= 3, got $maxHamming")
    // The LSH and sorted-neighborhood probes each materialize their
    // (small) pair artifact EAGERLY and are fully independent — run
    // them as concurrent jobs (guide §2.6 "overlap independent jobs")
    // instead of back-to-back: the scheduler back-fills one probe's
    // straggler tail with the other's tasks, and the wall clock is
    // max(probe) instead of sum(probe). Shared upstream caches (the
    // caller's batch prep) are materialized under Spark's block-level
    // locking, so concurrent first-use computes each block once.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val lshF = Future {
      incrementalLshPairs(newSigs, sigTable, lshThreshold,
          numBands = 4, minAgree = 6, materialize = true,
          checkpointDir = checkpointDir)
        .select(col("id_a"), col("id_b"))
    }
    val snF = Future {
      incrementalSortedNeighborPairs(sortKeys, newSk,
          snWindow, snThreshold, materialize = true,
          checkpointDir = checkpointDir)
        .select(col("id_a"), col("id_b"))
    }
    val sim = incrementalSimhashPairs(newFps, fpTable, maxHamming)
      .select(col("id_a"), col("id_b"))
    val lsh = Await.result(lshF, Duration.Inf)
    val sn = Await.result(snF, Duration.Inf)
    // sim is lazy over the batch artifacts — the final pin
    // materializes it while the caller's caches are still held
    pin(lsh.unionByName(sn).unionByName(sim).distinct(), checkpointDir)
  }

  /** Cluster deltas over the combined corpus after an ingest batch:
    * [[incrementalBlockedDedupPairs]]' new-involving edges unioned
    * with the PERSISTED pair log of all prior runs
    * (`existingPairs` — the [[blockedDedupPairs]] artifact the
    * backfill wrote and every batch appends to), re-closed into
    * connected components. Emits the [[blockedDedupClusters]]
    * contract: (id, cluster_id) for every doc sharing a component
    * with at least one other, min-id labels.
    *
    * Semantics note (monotone pair accumulation): LSH and simhash
    * pairs decompose exactly — prior ∪ delta IS the backfill pair
    * set on the union. Sorted-neighborhood is a GLOBAL-order
    * blocker, so a prior-run pair whose neighbors were pushed apart
    * by inserted docs stays in the log even though a from-scratch
    * backfill's window would no longer see it — the log never
    * forgets a VERIFIED (jaccard ≥ threshold) near-dup pair, which
    * is what a dedup pipeline wants and what the q292 oracle
    * replays (prior-corpus pairs ∪ combined-order new-involving
    * pairs, transitively closed). */
  def incrementalBlockedDedupClusters(sigTable: DataFrame,
      sortKeys: DataFrame, fpTable: DataFrame, existingPairs: DataFrame,
      newDocs: DataFrame, idCol: String, textCol: String,
      lshThreshold: Double = 0.5, snWindow: Int = 4,
      snThreshold: Double = 0.5, maxHamming: Int = 3,
      checkpointDir: Option[String] = None): DataFrame = {
    val delta = incrementalBlockedDedupPairs(sigTable, sortKeys, fpTable,
      newDocs, idCol, textCol, lshThreshold, snWindow, snThreshold,
      maxHamming, checkpointDir)
    graft.llm.Corpus.dupClusters(
      existingPairs.select(col("id_a"), col("id_b"))
        .unionByName(delta.select(col("id_a"), col("id_b")))
        .distinct(),
      checkpointDir = checkpointDir)
  }

  /** Split the standing pair log around a delta for the DELTA-AWARE
    * re-close: (edges of prior clusters touched by a delta endpoint,
    * prior (id, cluster_id) assignments of UNTOUCHED clusters).
    *
    * Exactness argument: prior edges connect only within prior
    * components, so a prior component can join a merged final
    * component only through a delta edge incident on one of its
    * vertices — i.e. only TOUCHED components can change membership or
    * label, and every untouched component's vertex set AND min-id
    * label are byte-identical to the full re-close. Re-closing
    * (touched edges ∪ delta) therefore reproduces exactly the
    * full-close components that differ, and the untouched assignments
    * pass through unexamined.
    *
    * Scale shape: `touched` is ≤ one row per delta endpoint
    * (delta-sized, broadcast both times it joins); the pair log is
    * scanned once, map-side semi-joined against the broadcast touched
    * set — the untouched partition of the log (the overwhelming bulk
    * in steady state) never enters a shuffle, never reaches the CC
    * iteration. Pair → cluster mapping joins on `id_a` alone: every
    * logged pair's endpoints share a component by construction, and
    * every logged id is non-singleton so it HAS an assignment row. */
  private[graft] def deltaCloseSplit(existingPairs: DataFrame,
      existingClusters: DataFrame, delta: DataFrame)
      : (DataFrame, DataFrame) = {
    val endpoints = delta.select(col("id_a").as("id"))
      .unionByName(delta.select(col("id_b").as("id"))).distinct()
    val touched = existingClusters
      .join(broadcast(endpoints), Seq("id"), "left_semi")
      .select(col("cluster_id")).distinct()
    // observed metrics (the setSimJoinPairs discipline): the whole
    // point of the delta-aware close is how much of the log it did
    // NOT re-close — surface both sides so a production run can audit
    // the touched/pass-through ratio instead of assuming it
    val obsTag = s"delta_close_${obsSeq.incrementAndGet()}"
    val touchedEdges = existingPairs
      .join(existingClusters.select(col("id").as("id_a"),
        col("cluster_id")), Seq("id_a"))
      .join(broadcast(touched), Seq("cluster_id"), "left_semi")
      .select(col("id_a"), col("id_b"))
      .observe(s"${obsTag}_touched", count(lit(1)).as("touched_edges"))
    val passThrough = existingClusters
      .join(broadcast(touched), Seq("cluster_id"), "left_anti")
      .select(col("id"), col("cluster_id"))
      .observe(s"${obsTag}_pass",
        count(lit(1)).as("passthrough_assignments"))
    (touchedEdges, passThrough)
  }

  /** [[incrementalBlockedDedupClusters]] with the DELTA-AWARE close —
    * the steady-state nightly call when the prior run's CLUSTER
    * assignments are persisted beside the pair log. The full-log
    * re-close was the one super-linear-in-history cost left in the
    * nightly path (the log of a high-duplication corpus is large, and
    * a batch touches few components): here only components reachable
    * from a delta edge are re-closed, and every untouched (id →
    * cluster_id) row passes through without entering the CC iteration
    * (see [[deltaCloseSplit]] for the exactness argument — the output
    * is byte-identical to the full re-close, which is what the q292
    * oracle replays).
    *
    * `existingClusters` must be the [[blockedDedupClusters]]-contract
    * output over exactly `existingPairs` (the artifact the previous
    * run persisted); feeding a stale or foreign assignment breaks the
    * exactness argument. */
  def incrementalBlockedDedupClustersFromState(sigTable: DataFrame,
      sortKeys: DataFrame, fpTable: DataFrame, existingPairs: DataFrame,
      existingClusters: DataFrame, newDocs: DataFrame, idCol: String,
      textCol: String, lshThreshold: Double = 0.5, snWindow: Int = 4,
      snThreshold: Double = 0.5, maxHamming: Int = 3,
      checkpointDir: Option[String] = None): DataFrame = {
    val delta = incrementalBlockedDedupPairs(sigTable, sortKeys, fpTable,
      newDocs, idCol, textCol, lshThreshold, snWindow, snThreshold,
      maxHamming, checkpointDir)
    val (touchedEdges, passThrough) =
      deltaCloseSplit(existingPairs, existingClusters, delta)
    val reclosed = graft.llm.Corpus.dupClusters(
      touchedEdges.unionByName(delta.select(col("id_a"), col("id_b")))
        .distinct(),
      checkpointDir = checkpointDir)
    passThrough.unionByName(reclosed)
  }

  /** Keeper resolution over [[blockedDedupClusters]] — the composed
    * pipeline's last mile: three-blocker pair union → connected
    * components → ONE survivor per cluster by keep-"best" (argmax
    * `scoreCol`, tie → lower id), every input document emitted with
    * its resolved cluster, score, and keep decision (singletons keep
    * themselves through the left join's coalesce). The
    * [[clusterKeepers]] policy applied to the production candidate
    * set instead of LSH alone.
    *
    * Scale shape: clusters arrive EAGER and duplicate-sized from
    * blockedDedupClusters (local relation / truncated big-star output
    * — no lazy LSH lineage to pin, so no checkpoint is needed here);
    * the keeper argmax aggregates clustered docs only; the final join
    * shuffles (id, score) pairs. */
  def blockedClusterKeepers(docs: DataFrame, idCol: String,
      textCol: String, scoreCol: String,
      checkpointDir: Option[String] = None): DataFrame = {
    val clusters = blockedDedupClusters(docs, idCol, textCol,
      checkpointDir = checkpointDir).withColumnRenamed("id", idCol)
    val base = docs.select(col(idCol), col(scoreCol))
      .join(clusters, Seq(idCol), "left")
    val keepers = base.filter(col("cluster_id").isNotNull)
      .groupBy("cluster_id")
      .agg(max_by(col(idCol),
        struct(col(scoreCol), (-col(idCol)).as("__tb"))).as("__keeper"))
    base.join(keepers, Seq("cluster_id"), "left")
      .select(col(idCol),
        coalesce(col("cluster_id"), col(idCol)).as("cluster_id"),
        col(scoreCol),
        coalesce(col(idCol) === col("__keeper"), lit(true)).as("kept"))
  }

  /** Stored simhash fingerprint table: (id, sh) with the 60-bit Manku
    * fingerprint — the per-doc artifact an online crawl-dedup index
    * persists (8 bytes/doc; bucket by any block value for probe
    * locality). The simhash sibling of [[signatureTable]]. */
  def simhashTable(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val sp = docs.sparkSession
    docs.repartition(sp.sparkContext.defaultParallelism)
      .select(col(idCol).as("id"),
        graft.functions.SimHash60.column(TextAnalysis.tokens(col(textCol))).as("sh"))
  }

  /** Incremental Manku simhash pairs — the paper's actual ONLINE
    * setting (WWW'07 crawl dedup: "have we seen a near-dup of this
    * page?"): near-dup pairs involving at least one NEW document,
    * probed against a stored fingerprint index. Only the new docs'
    * block keys probe (against index ∪ batch), so per batch the
    * candidate volume is Σ over the batch's block buckets — cost
    * scales with batch × bucket size, never corpus², and
    * existing×existing pairs are never re-examined (that work was
    * done when those docs arrived — the [[incrementalLshPairs]]
    * contract). `newFps`/`existingFps` are [[simhashTable]] frames.
    * Pairs are canonical (id_a < id_b); recall within the batch
    * boundary is exactly 1 for hamming ≤ maxHamming ≤ 3 (the
    * pigeonhole argument is per-pair, indifferent to which side
    * probes). */
  def incrementalSimhashPairs(newFps: DataFrame, existingFps: DataFrame,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"pigeonhole with 4 blocks certifies maxHamming <= 3, got $maxHamming")
    def blocks(fps: DataFrame): DataFrame = fps.select(col("id"), col("sh"),
        explode(array((0 until 4).map(i => struct(lit(i).as("blk"),
          shiftright(col("sh"), 15 * i).bitwiseAND(lit(32767L))
            .as("bval"))): _*)).as("__b"))
      .select(col("id"), col("sh"), col("__b.blk").as("blk"),
        col("__b.bval").as("bval"))
    val newB = blocks(newFps)
    val allB = blocks(existingFps.unionAll(newFps))
    // canonicalize orientation BEFORE the distinct: a new×new pair is
    // probed from both sides with (sh, sh') swapped — aligning sh_a
    // to the smaller id makes the two emissions identical rows, so
    // the same distinct that collapses multi-block agreement also
    // collapses the double probe
    val cands = newB.as("a").join(allB.as("b"),
        col("a.blk") === col("b.blk") && col("a.bval") === col("b.bval") &&
          col("a.id") =!= col("b.id"))
      .select(least(col("a.id"), col("b.id")).as("id_a"),
        greatest(col("a.id"), col("b.id")).as("id_b"),
        when(col("a.id") < col("b.id"), col("a.sh"))
          .otherwise(col("b.sh")).as("__sa"),
        when(col("a.id") < col("b.id"), col("b.sh"))
          .otherwise(col("a.sh")).as("__sb"))
      .distinct()
    cands
      .withColumn("hamming",
        bit_count(col("__sa").bitwiseXOR(col("__sb"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  def sortedNeighborPairs(docs: DataFrame, idCol: String, textCol: String,
      window: Int = 4, threshold: Double = 0.5,
      bandBits: Int = 0, materialize: Boolean = true,
      checkpointDir: Option[String] = None): DataFrame = {
    require(window >= 2, s"window must be >= 2, got $window")
    require(bandBits >= 0 && bandBits <= 16, s"bad bandBits $bandBits")
    val sp = docs.sparkSession
    val par = sp.sparkContext.defaultParallelism
    // bandBits = 0 derives the band count from parallelism (4×
    // oversubscribed, floored at 2^8 = 256, capped by the 16-bit
    // simhash) — a constant would pin the within-band rank windows
    // at corpus/256 rows per task on a big cluster. Banding is a
    // parallel decomposition only: the two-level rank reconstructs
    // the SAME global order for any band count.
    val bb = if (bandBits > 0) bandBits
      else math.min(16, math.max(8,
        64 - java.lang.Long.numberOfLeadingZeros(math.max(1, par * 4L - 1))))
    val base = docs.repartition(par).select(col(idCol).as("id"),
        hashedShingles(col(textCol)).as("shs"),
        graft.functions.SimHash16.column(TextAnalysis.tokens(col(textCol))).as("sh"))
      .withColumn("band", shiftright(col("sh"), 16 - bb))
    val wnd = Window.partitionBy("band").orderBy(col("sh"), col("id"))
    val ranked = base.withColumn("rn", row_number().over(wnd))
    // band offsets: the only unpartitioned window runs on the
    // 2^bandBits-row count frame, then broadcasts back
    val offs = ranked.groupBy("band").agg(count(lit(1)).as("bc"))
      .withColumn("off", coalesce(sum(col("bc")).over(
        Window.orderBy("band")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("band"), col("off"))
    val g = ranked.join(broadcast(offs), Seq("band"))
      .select(col("id"), col("shs"), (col("off") + col("rn")).as("gr"))
      .persist()
    val probes = g.select(col("id").as("__ia"), col("shs").as("__sa"),
        explode(sequence(lit(1), lit(window - 1))).as("d"), col("gr"))
      .select(col("__ia"), col("__sa"), (col("gr") + col("d")).as("gk"))
    val cands = probes.join(
      g.select(col("gr").as("gk"), col("id").as("__ib"),
        col("shs").as("__sb")), Seq("gk"))
    val inter = graft.functions.IntersectCountLong.column(col("__sa"), col("__sb"))
    val jac = inter.cast("double") /
      (size(col("__sa")) + size(col("__sb")) - inter).cast("double")
    val pairs = cands
      .withColumn("jaccard", jac)
      .filter(col("jaccard") >= threshold)
      .select(least(col("__ia"), col("__ib")).as("id_a"),
        greatest(col("__ia"), col("__ib")).as("id_b"), col("jaccard"))
    // Loan closed here by default: the (small, duplicate-pair-sized)
    // result is pinned eagerly and the ranked-frame cache released
    // before return — the materializeAndRelease rule, so repeated
    // calls in a long-lived session don't accumulate cached ranked
    // frames. `materialize = false` hands back the lazy plan WITH the
    // cache still held (the lshPairs lazy contract: callers own the
    // release) — for plan inspection and one-shot sessions.
    if (materialize) materializeAndRelease(pairs, checkpointDir, Seq(g))
    else pairs
  }

  /** EXACT set-similarity self-join via prefix filtering (the PPJoin
    * family — Chaudhuri/Ganti/Kaushik ICDE'06 prefix filter with
    * Xiao et al. WWW'08 length bounds): every pair of documents whose
    * 5-char shingle sets have Jaccard ≥ `threshold`, with NO false
    * negatives — the exact companion the probabilistic blockers
    * (minhash-LSH, simhash, sorted-neighborhood) are benchmarked
    * against. The pruning theorem: order each set by GLOBAL shingle
    * rarity (rarest first); two sets with Jaccard ≥ t must share at
    * least one shingle among each side's first n − ⌈t·n⌉ + 1 — so the
    * candidate join keys on PREFIX shingles only, and the rare-first
    * order makes those keys the most selective ones. Length filter
    * ⌈t·n_a⌉ ≤ n_b ≤ ⌊n_a/t⌋ prunes size-incompatible pairs before
    * verification.
    *
    * Scale shape: one shingle explode (data-sized, keyed), one
    * shingle-frequency count (shingle-cardinality), one per-doc
    * rarity-rank window (doc-keyed), a prefix-shingle equi-join whose
    * keys are by construction the RAREST shingles (the skew-killer —
    * stop-shingles never enter prefixes of similar pairs at
    * realistic thresholds), distinct candidate pairs, then one
    * verification pass (two id-keyed set fetches + array_intersect).
    * Nothing corpus². The oracle is the BRUTE-FORCE cross product, so
    * the hash match PROVES completeness on the gate corpus.
    *
    * ==Cache-release contract (the [[lshPairs]] loan rule)==
    * `materialize = true` (default) computes the pair artifact
    * eagerly and releases BOTH internal caches (the sorted-set base
    * and the rarity-ranked prefix frame) before return.
    * `materialize = false` hands back the LAZY plan WITH the caches
    * still held — the caller owns the release (consume promptly in a
    * one-shot session, or accept recompute-after-eviction); a
    * long-lived session that opts out of materialization leaks the
    * cached base and prefix frames until LRU eviction. */
  def setSimJoinPairs(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.5, materialize: Boolean = true,
      checkpointDir: Option[String] = None,
      hotTokenDf: Int = 16384, saltBuckets: Int = 8): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0,1], got $threshold")
    require(hotTokenDf >= 2, s"hotTokenDf must be >= 2, got $hotTokenDf")
    require(saltBuckets >= 2 && saltBuckets <= 1024,
      s"saltBuckets must be in [2,1024], got $saltBuckets")
    val sp = docs.sparkSession
    val par = sp.sparkContext.defaultParallelism
    // sorted sets: the verification kernel is a primitive merge pass
    // (SortedIntersectCount) instead of array_intersect's boxed hash
    // set — on millions of candidates the boxing dominated the join
    val base = docs.repartition(par).select(col(idCol).as("id"),
      array_sort(hashedShingles(col(textCol))).as("shs")).persist()
    val tok = base.select(col("id"), size(col("shs")).as("n"),
      explode(col("shs")).as("tk"))
    val freq = tok.groupBy(col("tk")).agg(count(lit(1)).as("__f"))
    val wRare = Window.partitionBy(col("id"))
      .orderBy(col("__f").asc, col("tk").asc)
    // EXACTNESS NOTE (all three pruning bounds): the textbook forms
    // take ceil() of a float product (prefix length n − ⌈t·n⌉ + 1,
    // length filter ⌈t·na⌉ ≤ nb ≤ ⌊na/t⌋, positional bound
    // ⌈t/(1+t)·(na+nb)⌉). A half-ulp round-UP inside ceil jumps the
    // bound by a WHOLE integer (t = 0.2: 0.2/1.2·12 evaluates to
    // 2.0000000000000004, ceil = 3 vs exact 2) and silently prunes
    // pairs sitting exactly at the threshold — a false negative the
    // exact verify can never repair. So every bound is compared in
    // cleared-denominator form against the integer side directly:
    // a single correctly-rounded product can never cross a
    // representable integer (if the true product ≤ k then the nearest
    // double is ≤ k), so `t·n <= k` is exact where `k >= ceil(t·n)`
    // is not. The positional bound multiplies on BOTH sides (two
    // roundings), so it alone gets a 1e-9 relaxation — slack only
    // ADMITS candidates, and verification is exact.
    // OBSERVABILITY (r16 verdict): the grid guard's arming decision
    // (df > hotTokenDf) and the positional filter's selectivity are
    // invisible at run time without metrics — a 100 TB operator needs
    // its skew exposure auditable from the run, not re-derived from
    // A/Bs. CollectMetrics nodes are accumulator adds on rows already
    // flowing (no extra shuffle, no action); names carry a per-call
    // sequence so composed plans never collide on the unique-name
    // rule. approx_count_distinct because observed metrics ban
    // DISTINCT aggregates — exact at the cardinalities that matter
    // (a handful of hyper-frequent tokens).
    // Each observation attaches to a branch consumed EXACTLY ONCE
    // (the cold join's left side, the hot grid's pre-explode A side),
    // never to the shared prefix frame: a branch feeding both sides
    // of a self-join re-executes its subtree once per consumer (the
    // CollectMetrics node makes the sides non-identical, so exchange
    // reuse cannot collapse them), and an observation there would
    // double-count every row — the r17 ADVICE finding.
    val obsTag = s"set_sim_join_${obsSeq.incrementAndGet()}"
    // prefAll is PERSISTED (r18): it feeds FOUR consumers — both sides
    // of the cold candidate self-join and both sides of the hot salted
    // grid — and the CollectMetrics observations make those subtrees
    // non-identical, so exchange reuse can never collapse them; without
    // the cache each consumer re-runs the token⋈frequency join AND the
    // per-doc rarity-rank window over the full token stream (measured
    // 4× ≈ 9 s of a 12 s call at sf0.1). Prefix rows are ~half the
    // token stream — the same data-sized class as the `base` cache this
    // loan already holds, and strictly cheaper than recomputing a
    // corpus-wide shuffle+sort four times at any scale.
    val prefAll = tok.join(freq, Seq("tk"))
      .withColumn("__r", row_number().over(wRare))
      .filter(lit(threshold) * col("n").cast("double") <=
        (col("n") - col("__r") + 1).cast("double"))
      .select(col("tk"), col("id"), col("n"), col("__r"), col("__f"))
      .persist()
    // HOT-KEY GUARD: rare-first prefixes keep stop-shingles out of
    // candidate keys on a DIVERSE corpus, but a hyper-frequent
    // shingle in a low-diversity 100 TB corpus can still enter
    // prefixes of thousands of docs, and the plain equi-join would
    // land all Σ occurrence² pairs of that token on ONE reduce key.
    // Tokens with document frequency > `hotTokenDf` are split out and
    // self-joined on a SALTED GRID instead: each occurrence gets a
    // deterministic bucket b ∈ [0, s); side A replicates a row to
    // cells (b, j ≥ b), side B to cells (i ≤ b, b), and the join keys
    // on (tk, cell) — every unordered occurrence pair meets in
    // exactly one cell (same-bucket pairs meet twice with swapped
    // roles; the canonical distinct collapses them), so completeness
    // is preserved while the per-reducer work drops from m² to
    // (m/s)² at (s+1)× replication of hot rows only. The default
    // threshold (16 K ≈ 10⁸ same-key pair evaluations) sits where one
    // reducer genuinely chokes: below it the replication overhead
    // measurably exceeds the skew saving (A/B at sf0.1's degenerate
    // df≈5 K fixture: 10.2 s plain vs 13.2 s gridded), above it a
    // single key is minutes of work no AQE split can touch because
    // the skew is WITHIN one join key, not across partitions.
    val prefix = prefAll.filter(col("__f") <= hotTokenDf)
      .select(col("tk"), col("id"), col("n"), col("__r"))
    val hotPref = prefAll.filter(col("__f") > hotTokenDf)
      .withColumn("__bkt",
        pmod(xxhash64(col("id")), lit(saltBuckets.toLong)).cast("int"))
    // POSITIONAL filtering (the PPJoin refinement): a match at rarity
    // positions (ra, rb) bounds the overlap above by
    // 1 + min(na − ra, nb − rb); Jaccard ≥ t needs overlap ≥
    // t/(1+t)·(na+nb), and a truly-similar pair's FIRST common
    // prefix token always satisfies the bound — so the row-level
    // filter keeps completeness while dropping common-shingle
    // deep-prefix matches MAP-SIDE, before the pair shuffle. On
    // low-diversity corpora (where plain prefix filtering degenerates
    // — a 40-word synthetic vocab leaves 2k distinct shingles across
    // 5k docs) this is the difference between 8.2M candidate pairs
    // and the few hundred real ones.
    // (symmetric under a↔b swap, so the hot grid applies it verbatim
    // before canonicalizing)
    def pairFilters(requireOrder: Boolean): Column = {
      val base =
        col("__nb").cast("double") >= lit(threshold) * col("__na").cast("double") &&
        lit(threshold) * col("__nb").cast("double") <= col("__na").cast("double") &&
        (lit(1) + least(col("__na") - col("__ra"),
          col("__nb") - col("__rb"))).cast("double") * lit(1.0 + threshold) >=
          lit(threshold) * (col("__na") + col("__nb")).cast("double") - lit(1e-9)
      if (requireOrder) col("__ia") < col("__ib") && base
      else col("__ia") =!= col("__ib") && base
    }
    // the pre/post pair of metrics around the positional filter IS
    // the selectivity readout (pre counts ordered equi-join matches,
    // post the survivors entering the distinct)
    val coldCands = prefix.select(col("tk"), col("id").as("__ia"),
        col("n").as("__na"), col("__r").as("__ra"))
      .observe(s"${obsTag}_cold_prefix",
        count(lit(1)).as("prefix_rows"))
      .join(prefix.select(col("tk"), col("id").as("__ib"),
        col("n").as("__nb"), col("__r").as("__rb")), Seq("tk"))
      .observe(s"${obsTag}_cold", count(lit(1)).as("cand_rows_pre"))
      .filter(pairFilters(requireOrder = true))
      .select(col("__ia"), col("__ib"))
    val hotA = hotPref
      .observe(s"${obsTag}_hot_prefix",
        count(lit(1)).as("hot_prefix_rows"),
        approx_count_distinct(col("tk")).as("hot_tokens"),
        max(col("__f")).as("max_token_df"))
      .select(col("tk"), col("id").as("__ia"),
        col("n").as("__na"), col("__r").as("__ra"),
        col("__bkt").as("__ci"),
        explode(sequence(col("__bkt"), lit(saltBuckets - 1))).as("__cj"))
    val hotB = hotPref.select(col("tk"), col("id").as("__ib"),
        col("n").as("__nb"), col("__r").as("__rb"),
        explode(sequence(lit(0), col("__bkt"))).as("__ci"),
        col("__bkt").as("__cj"))
    val hotCands = hotA.join(hotB, Seq("tk", "__ci", "__cj"))
      .observe(s"${obsTag}_hot", count(lit(1)).as("hot_cand_rows_pre"))
      .filter(pairFilters(requireOrder = false))
      .select(least(col("__ia"), col("__ib")).as("__ia"),
        greatest(col("__ia"), col("__ib")).as("__ib"))
    val cands = coldCands.unionByName(hotCands)
      .observe(s"${obsTag}_cands", count(lit(1)).as("cand_rows_post"))
      .distinct()
    val withSets = cands
      .join(base.select(col("id").as("__ia"), col("shs").as("__sa")),
        Seq("__ia"))
      .join(base.select(col("id").as("__ib"), col("shs").as("__sb")),
        Seq("__ib"))
    val inter = graft.functions.SortedIntersectCount.column(col("__sa"), col("__sb"))
    val jac = inter.cast("double") /
      (size(col("__sa")) + size(col("__sb")) - inter).cast("double")
    val pairs = withSets.withColumn("jaccard", jac)
      .filter(col("jaccard") >= threshold)
      .select(col("__ia").as("id_a"), col("__ib").as("id_b"),
        col("jaccard"))
    if (materialize) materializeAndRelease(pairs, checkpointDir, Seq(base, prefAll))
    else pairs
  }

  /** Sort-key table for INCREMENTAL sorted-neighborhood dedup:
    * (id, shs, sh) per doc — the persisted artifact mirroring
    * [[signatureTable]] (minhash-LSH) and [[simhashTable]] (Manku
    * blocks), completing the online path for the third blocker. */
  def sortKeyTable(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val sp = docs.sparkSession
    val par = sp.sparkContext.defaultParallelism
    docs.repartition(par).select(col(idCol).as("id"),
      hashedShingles(col(textCol)).as("shs"),
      graft.functions.SimHash16.column(TextAnalysis.tokens(col(textCol))).as("sh"))
  }

  /** Incremental sorted-neighborhood pairs: a new batch against the
    * stored [[sortKeyTable]], emitting exactly the FULL-run pairs
    * that involve a batch doc. Sorted-neighborhood is a GLOBAL-order
    * blocker — an insertion displaces ranks around it — so unlike the
    * hash-local LSH/simhash blockers the key order must be rebuilt
    * over stored ∪ batch. The incremental win is WHAT the sort
    * carries and what gets verified: the rank pass runs on bare
    * (id, 16-bit key) records — shingle sets never enter the
    * shuffle — and Jaccard verification touches only candidates with
    * a batch side (~2·|batch|·window of them) instead of the full
    * corpus·window stream, with each side's shingles fetched by a
    * keyed id join. Pair-for-pair equal to filtering the full run
    * (LlmSpec pins it): the union key order IS the full-run order.
    *
    * Scale shape: one narrow banded two-level rank over n+m 10-byte
    * records (the [[sortedNeighborPairs]] construction), a
    * batch-involving candidate filter, two id-keyed shingle fetches,
    * per-candidate Jaccard. The [[materializeAndRelease]] loan rule
    * applies to the ranked frame; as with [[setSimJoinPairs]],
    * `materialize = false` returns the lazy plan with that cache
    * still held and the CALLER owns the release. */
  def incrementalSortedNeighborPairs(stored: DataFrame, batch: DataFrame,
      window: Int = 4, threshold: Double = 0.5, bandBits: Int = 0,
      materialize: Boolean = true,
      checkpointDir: Option[String] = None): DataFrame = {
    require(window >= 2, s"window must be >= 2, got $window")
    require(bandBits >= 0 && bandBits <= 16, s"bad bandBits $bandBits")
    val sp = stored.sparkSession
    val par = sp.sparkContext.defaultParallelism
    val bb = if (bandBits > 0) bandBits
      else math.min(16, math.max(8,
        64 - java.lang.Long.numberOfLeadingZeros(math.max(1, par * 4L - 1))))
    val keys = stored.select(col("id"), col("sh"), lit(false).as("new"))
      .unionByName(batch.select(col("id"), col("sh"), lit(true).as("new")))
      .withColumn("band", shiftright(col("sh"), 16 - bb))
    val wnd = Window.partitionBy("band").orderBy(col("sh"), col("id"))
    val ranked = keys.withColumn("rn", row_number().over(wnd))
    val offs = ranked.groupBy("band").agg(count(lit(1)).as("bc"))
      .withColumn("off", coalesce(sum(col("bc")).over(
        Window.orderBy("band")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("band"), col("off"))
    val g = ranked.join(broadcast(offs), Seq("band"))
      .select(col("id"), col("new"), (col("off") + col("rn")).as("gr"))
      .persist()
    val probes = g.select(col("id").as("__ia"), col("new").as("__na"),
        explode(sequence(lit(1), lit(window - 1))).as("d"), col("gr"))
      .select(col("__ia"), col("__na"), (col("gr") + col("d")).as("gk"))
    val cands = probes.join(
        g.select(col("gr").as("gk"), col("id").as("__ib"),
          col("new").as("__nb")), Seq("gk"))
      .filter(col("__na") || col("__nb"))
    val lib = stored.select(col("id"), col("shs"))
      .unionByName(batch.select(col("id"), col("shs")))
    val withShs = cands
      .join(lib.select(col("id").as("__ia"), col("shs").as("__sa")),
        Seq("__ia"))
      .join(lib.select(col("id").as("__ib"), col("shs").as("__sb")),
        Seq("__ib"))
    val inter = graft.functions.IntersectCountLong.column(col("__sa"), col("__sb"))
    val jac = inter.cast("double") /
      (size(col("__sa")) + size(col("__sb")) - inter).cast("double")
    val pairs = withShs
      .withColumn("jaccard", jac)
      .filter(col("jaccard") >= threshold)
      .select(least(col("__ia"), col("__ib")).as("id_a"),
        greatest(col("__ia"), col("__ib")).as("id_b"), col("jaccard"))
    if (materialize) materializeAndRelease(pairs, checkpointDir, Seq(g))
    else pairs
  }
}
