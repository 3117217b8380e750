package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators.
  *
  * The reference dedupes with `dropDuplicates(business_key)` everywhere
  * (`batch/etl/kafka_to_bronze_tiktok.py:257,298,339`,
  * `tiktok_bronze_to_silver.py:151-163`), which keeps an *arbitrary* row.
  * SURVEY.md §7.4 (hard-part 3) calls for a deterministic tie-break instead:
  * `latestPerKey` is the engine's canonical replacement — a `row_number`
  * over a recency ordering, so results are reproducible and oracle-checkable.
  *
  * Beyond the reference, the near-duplicate family (MinHash-LSH, SimHash,
  * n-gram Jaccard) targets LLM-training-data cleanup at 100 TB: everything is
  * formulated as explode → hash → shuffle-on-short-keys joins, never a
  * pairwise cross product.
  */
object Dedup {

  /** Deterministic dropDuplicates: keep the first row per key under `order`.
    * One shuffle on `keys`; at scale this is the same cost as the
    * non-deterministic `dropDuplicates` but reproducible.
    */
  def latestPerKey(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Exact duplicate groups by a normalized text column: one output row per
    * distinct normalized value, with the representative (min) id and the
    * multiplicity. Pure hash aggregation — a single shuffle on the md5 of
    * the normalized text (shuffling a 32-char digest, not the full text,
    * is the 100 TB trick; the text itself never moves).
    */
  def exactText(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"), normFingerprint(col(textCol)).as("fp"))
      .groupBy("fp")
      .agg(min("id").as("rep_id"), count(lit(1)).as("n_copies"))

  /** Normalization+md5 fingerprint (see [[graft.functions.TextFunctions]]). */
  def normFingerprint(text: Column): Column =
    graft.functions.TextFunctions.fingerprint(text)

  /** Word tokens (delegates to [[graft.functions.TextFunctions.tokens]]). */
  def tokens(text: Column): Column = graft.functions.TextFunctions.tokens(text)

  /** Distinct w-word shingles (see [[graft.functions.TextFunctions.shingles]]). */
  def shingles(text: Column, w: Int = 3): Column =
    graft.functions.TextFunctions.shingles(text, w)

  /** Shingle posting rows (block, id, shingle) built RELATIONALLY: tokens
    * posexploded once per doc, each w-window assembled with `lead()` over
    * the doc partition, short docs (< w tokens) emitting their single
    * all-tokens shingle and empty docs nothing — row-for-row the
    * semantics of `explode(shingles(text))`, minus the distinct (callers
    * that need set semantics dedupe after hashing).
    *
    * Why not the array form: inside [[shingles]]' transform lambda the
    * `slice(toks, …)` reference re-evaluates the token split per element
    * (lambda-bound references defeat CSE — the round-1 lesson), which the
    * full-evaluation bench exposed as ~50 core-ms per 300-char doc. Here
    * the tokenizer runs once per document and everything after is
    * codegen'd window machinery: 8.1 s → 0.6 s for the posting build at
    * sf0.1.
    */
  def shinglePostings(df: DataFrame, idCol: String, textCol: String,
      blockCol: Option[String], w: Int = 3): DataFrame = {
    val toks = df.select(blockCol.map(col).getOrElse(lit("")).as("block"),
      col(idCol).as("id"),
      posexplode(tokens(col(textCol))).as(Seq("pos", "t")))
    val byDoc = Window.partitionBy("block", "id").orderBy("pos")
    val docAll = Window.partitionBy("block", "id")
    val windowTerms = col("t") +: (1 until w).map(k => lead(col("t"), k).over(byDoc))
    toks
      .withColumn("sh", concat_ws(" ", windowTerms: _*))
      .withColumn("sz", count(lit(1)).over(docAll))
      .filter(col("pos") <= greatest(col("sz") - w, lit(0)))
      .select(col("block"), col("id"), col("sh").as("shingle"))
  }

  // NOTE (measured, sf0.1): hashing shingles without materializing the
  // "a b c" strings — element_at inside a transform lambda, or arrays_zip
  // of shifted slices — is 3× SLOWER than slice+array_join string
  // shingles: lambda-bound references defeat common-subexpression
  // elimination and the struct-array zip costs more than the join. The
  // postings below therefore carry string shingles.

  /** n-gram (word-shingle) Jaccard near-duplicate detection via an inverted
    * index, blocked by `blockCol` (e.g. source): explode distinct shingles,
    * self-join postings within a block (a shingle only joins to itself, so
    * the shuffle key is (block, shingle) — never an all-pairs product),
    * count shared shingles per candidate pair, then Jaccard =
    * |A∩B| / (|A|+|B|−|A∩B|).
    *
    * `maxShingleDf` caps the posting-list length per (block, shingle): a
    * shingle occurring in n docs emits C(n,2) join rows, so one boilerplate
    * header shared by a million docs at 100 TB would emit ~5·10¹¹ pairs on
    * its own. Shingles above the cap are dropped from the index (standard
    * document-frequency pruning — they carry no near-dup signal anyway);
    * denominators keep the full shingle counts, so Jaccard for surviving
    * pairs only ever underestimates. Pairs whose EVERY shared shingle is
    * hot disappear — the accepted trade for a bounded join.
    *
    * Postings carry `xxhash64(shingle)` (8 bytes), not the shingle string:
    * the intersection count only needs equality, so the shuffle moves
    * longs. A hash collision could overcount one shared shingle for one
    * pair (probability ~n²·2⁻⁶⁴ per block); candidate generation
    * tolerates that, and verification reads the real text.
    *
    * The df prune is a count-over-window on the SAME (block, shingle)
    * partitioning as the pair join — one exchange computes the exploded
    * postings once, the window filter runs on it, and the self-join's
    * second side is an identical subtree the planner serves via
    * ReusedExchange (a groupBy+semijoin formulation re-computed the
    * scan→shingle→explode subtree three times).
    *
    * Returns one row per candidate pair (≥1 shared sub-cap shingle):
    * (block, id_a, id_b, n_a, n_b, n_shared, jaccard), id_a < id_b.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      blockCol: String, w: Int = 3, maxShingleDf: Long = 1000): DataFrame = {
    // ONE exchange on (block, shingle) serves the whole index build: a
    // HashPartitioning on a SUBSET of an aggregate's grouping keys
    // satisfies its ClusteredDistribution, so the per-doc distinct, the
    // df-prune window and the pair join all run on this partitioning
    // without further shuffles (a bare .distinct() planned its own
    // (block,id,shingle) exchange first), and the sizes/self-join
    // branches reuse the one materialized stage.
    val postings = shinglePostings(df, idCol, textCol, Some(blockCol), w)
      .select(col("block"), col("id"), xxhash64(col("shingle")).as("shingle"))
      .repartition(col("block"), col("shingle"))
      .dropDuplicates("block", "id", "shingle")
    val sizes = postings.groupBy("block", "id").agg(count(lit(1)).as("n_sh"))
    // Cap-shape adjudication (VERDICT r9 #2, measured — PERF_NOTES r9):
    // the count-over-window DOES concentrate a mega-df shingle's postings
    // in one task, but only to count and drop them — no sort (unbounded
    // frame), rows are 24-byte digests, and the exchange it rides is the
    // SAME one the pair join needs anyway (the self-join's second side
    // is a ReusedExchange of that stage). The groupBy+join alternative
    // gets map-side partials but plans the df table as a separate
    // aggregation whose probe join re-shuffles the full postings a
    // second time. Measured on the planted every-doc-shares-a-shingle
    // corpus (quiet machine, median of 3): window 3.78/10.33/25.31 s vs
    // groupBy+join 9.20/17.01/41.51 s at 50k/150k/450k docs — the
    // window wins 1.6–2.4× at every rung, so it stays at every cap
    // site. The hot key's bounded count-and-drop serialization is far
    // cheaper than a second postings exchange.
    val dfw = Window.partitionBy("block", "shingle")
    val kept = postings
      .withColumn("df_", count(lit(1)).over(dfw))
      .filter(col("df_") <= maxShingleDf)
      .drop("df_")
    val a = kept.as("a")
    val b = kept.as("b")
    val shared = a.join(b,
        col("a.block") === col("b.block") &&
        col("a.shingle") === col("b.shingle") &&
        col("a.id") < col("b.id"))
      .groupBy(col("a.block").as("block"), col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
    shared
      .join(sizes.select(col("id").as("id_a"), col("n_sh").as("n_a")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("n_sh").as("n_b")), Seq("id_b"))
      .withColumn("jaccard",
        col("n_shared").cast("double") /
          (col("n_a") + col("n_b") - col("n_shared")).cast("double"))
      .select("block", "id_a", "id_b", "n_a", "n_b", "n_shared", "jaccard")
  }

  /** Similarity-band histogram over a [[ngramJaccardPairs]] frame — the
    * view that CHOOSES the near-dup threshold, the dedup counterpart
    * of the classifier's operating-point sweep: how much candidate-pair
    * mass sits in each Jaccard band, so "dedup at 0.5 vs 0.8" becomes a
    * read of two rows instead of a guess. Band edges are EXACT
    * integers: band = (n_shared·10) div (n_a + n_b − n_shared) — band b
    * covers j ∈ [b/10, (b+1)/10), band 10 is exactly j = 1 — computed
    * from the pair frame's integer counts, never from the float
    * `jaccard` column (a float band would misfile boundary pairs like
    * 3/6 on representation error).
    *
    * Scale shape: one hash aggregate on (block, band) over the
    * already-df-capped pair frame — ≤ |blocks|·11 result rows,
    * map-side partials. The expensive part (the pair join) is the
    * input, shared with every other consumer of the candidates.
    *
    * Output: (block, band, band_lo_bp [= band·1000], n_pairs).
    */
  def jaccardBandHistogram(pairs: DataFrame): DataFrame =
    pairs.groupBy(col("block"),
        expr("(n_shared * 10) div (n_a + n_b - n_shared)").as("band"))
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("band_lo_bp", col("band") * 1000L)
      .select("block", "band", "band_lo_bp", "n_pairs")

  /** Winnowing fingerprints (MOSS local fingerprinting): one (id, fp) row
    * per distinct window-min k-gram hash per doc, via the one-pass
    * [[graft.plans.WinnowFingerprints]] kernel. Unlike MinHash/SimHash —
    * global similarity signatures — local fingerprints survive PARTIAL
    * copying: a paragraph pasted into an otherwise-unrelated document
    * still shares its window minima. Join (fp → doc postings) to find
    * containment/overlap candidates; cap hot fingerprints like any
    * posting list. Docs shorter than k emit nothing.
    */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 4): DataFrame =
    // the kernel returns each doc's DISTINCT minima, so the exploded
    // rows are already unique (id, fp) pairs — no dedupe stage
    df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        explode(graft.plans.SignatureExpressions.winnowFps(col(textCol), k, w)).as("fp"))

  /** POSITIONAL winnowing fingerprints: one (id, fp, pos) row per
    * robust-winnowing selection ([[graft.plans.SigOps.winnowPositions]]),
    * `pos` the gram's starting codepoint offset. The localizable variant
    * of [[winnowFingerprints]]: where the set form answers "do these docs
    * overlap", matched (fp, pos) pairs answer WHERE — for a copied span,
    * posA − posB is constant (the copy's offset delta), exact for
    * interior grams and within w at the span's edges (spec-pinned with a
    * planted copy). Join on fp like the set form; group matched pairs by
    * (id_a, id_b, posA − posB) to localize each shared span.
    */
  def winnowFingerprintPositions(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 4): DataFrame =
    df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        explode(graft.plans.SignatureExpressions.winnowFpPositions(
          col(textCol), k, w)).as("s"))
      .select(col("id"), col("s.fp").as("fp"), col("s.pos").as("pos"))

  /** Containment/partial-copy candidate pairs over winnowing fingerprints:
    * self-join the (fp → doc) postings, count shared fingerprints per
    * pair, containment = n_shared / min(|fps_a|, |fps_b|). `maxFpDf`
    * caps hot fingerprint posting lists (boilerplate fragments minimize
    * into MANY docs' windows — measured on the synthetic corpus one
    * fingerprint spans 67% of documents, so an uncapped join is
    * quadratic in the boilerplate family size). Sizes keep the FULL
    * per-doc fingerprint counts, so containment for surviving pairs only
    * ever underestimates — same convention as [[ngramJaccardPairs]]'s df
    * prune, same trade: pairs whose every shared fingerprint is hot
    * disappear.
    */
  def winnowContainmentPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 4, maxFpDf: Long = 1000,
      minContainment: Double = 0.5): DataFrame = {
    // one (fp)-keyed exchange serves the df-prune window, the sizes
    // branch and both self-join sides — same shape as ngramJaccardPairs
    val fps = df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        explode(graft.plans.SignatureExpressions.winnowFps(col(textCol), k, w)).as("fp"))
      .repartition(col("fp"))
    val sizes = fps.groupBy("id").agg(count(lit(1)).as("n_fp"))
    val dfw = Window.partitionBy("fp")
    val kept = fps
      .withColumn("df_", count(lit(1)).over(dfw))
      .filter(col("df_") <= maxFpDf)
      .drop("df_")
    val shared = kept.as("a").join(kept.as("b"),
        col("a.fp") === col("b.fp") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
    shared
      .join(sizes.select(col("id").as("id_a"), col("n_fp").as("n_a")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("n_fp").as("n_b")), Seq("id_b"))
      .withColumn("containment",
        col("n_shared").cast("double") /
          least(col("n_a"), col("n_b")).cast("double"))
      .filter(col("containment") >= minContainment)
      .select("id_a", "id_b", "n_a", "n_b", "n_shared", "containment")
  }

  /** Two-level MinHash permutation family: `firstLevel` hashes the shingle
    * string to a long ONCE per posting (the O(len) work), `permute(h, i)`
    * derives the i-th permutation from that long (O(1) each), `bandBucket`
    * folds a band's signature slice into a bucket key. Signatures from
    * different families are NOT interchangeable.
    */
  sealed trait MinHashFamily {
    def firstLevel(sh: Column): Column
    def permute(h: Column, i: Int): Column
    def bandBucket(slice: Column): Column
  }

  /** Production default: xxhash64 everywhere — one fused codegen'd hash,
    * long bucket keys (8 bytes on the shuffle).
    */
  case object XxHashFamily extends MinHashFamily {
    def firstLevel(sh: Column): Column = xxhash64(sh)
    def permute(h: Column, i: Int): Column =
      org.apache.spark.sql.GraftSqlBridge.xxhash64Seeded(h, i)
    def bandBucket(slice: Column): Column = xxhash64(array_join(slice, ","))
  }

  /** ANSI-SQL-portable family, for queries hash-verified against an
    * external engine (DuckDB has no xxhash64): first level
    * H(s) = int(md5(s)[0:8], 16) — 32 bits; permutations
    * h_i(H) = (Aᵢ·H + Bᵢ) mod (2⁶¹−1), classic universal hashing with
    * Aᵢ < 2³⁰ so Aᵢ·H < 2⁶² never overflows a signed 64-bit int — every
    * step is exact BIGINT arithmetic on any engine. Band buckets are the
    * joined slice string (no re-hash, so the oracle groups identically).
    * Slower than [[XxHashFamily]] (md5 + hex decode per posting) — use it
    * where cross-engine verifiability matters more than peak throughput.
    */
  case object PortableHashFamily extends MinHashFamily {
    val P: Long = graft.plans.SigOps.MersenneP
    // coefficients live in SigOps so the relational family and the native
    // one-pass kernel (graft.plans.MinHashSig) can never drift
    def aCoef(i: Int): Long = graft.plans.SigOps.aCoef(i)
    def bCoef(i: Int): Long = graft.plans.SigOps.bCoef(i)
    def firstLevel(sh: Column): Column =
      conv(substring(md5(sh), 1, 8), 16, 10).cast("long")
    def permute(h: Column, i: Int): Column =
      (lit(aCoef(i)) * h + lit(bCoef(i))) % lit(P)
    def bandBucket(slice: Column): Column = array_join(slice, ",")
    // --- DuckDB twins, kept adjacent so the two can never drift ---
    def firstLevelSql(e: String): String =
      s"CAST(concat('0x', substring(md5($e), 1, 8)) AS BIGINT)"
    def permuteSql(e: String, i: Int): String =
      s"((${aCoef(i)}::BIGINT * $e + ${bCoef(i)}::BIGINT) % ${P}::BIGINT)"
  }

  /** Bulk MinHash: (id, sig), default path — the native one-pass
    * [[graft.plans.MinHashSig]] kernel: tokenize → shingle → hash → fold
    * per DOCUMENT inside a single codegen'd projection. No posting rows,
    * no aggregation, NO SHUFFLE — signatures scale embarrassingly-parallel
    * with the scan, and the only exchange in an LSH job is the
    * (band, bucket) candidate join itself. Identical signatures to
    * [[minhashSignaturesViaPostings]] (spec-pinned, both families);
    * measured 4× faster at sf0.1 (PERF_NOTES r7).
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
      perms: Int, shingleW: Int = 3,
      family: MinHashFamily = XxHashFamily): DataFrame =
    // token-less docs are excluded by a cheap TEXT predicate (`\S` ⇔ at
    // least one token under the `\s+` tokenizer) instead of
    // `sig.isNotNull`: a deterministic filter on the sig alias gets
    // predicate-pushed below the projection, and Filter + Project would
    // then each evaluate the kernel — WholeStageCodegen does not CSE
    // across operators. With the text predicate the signature is computed
    // exactly once per row.
    df.filter(col(textCol).isNotNull && col(textCol).rlike("\\S"))
      .select(col(idCol).as("id"),
        org.apache.spark.sql.GraftSqlBridge.knownNotNull(
          graft.plans.SignatureExpressions.minhashSig(col(textCol), perms,
            shingleW, portable = family == PortableHashFamily)).as("sig"))

  /** Bulk signatures via explode+aggregate: `perms` codegen'd
    * `min(permute(hash))` aggregates over hashed-shingle postings — the
    * relational formulation (partial mins keep the shuffle at `perms`
    * longs per doc). Kept as the parity twin for [[minhashSignatures]]
    * and for callers that already HAVE posting rows. Measured faster than
    * the single-buffer [[graft.plans.MinHashAggregate]] (see
    * [[minhashSignaturesViaAgg]]) because declarative mins stay inside
    * whole-stage codegen while a TypedImperativeAggregate forces
    * ObjectHashAggregate with interpreted per-row eval — 3× at sf0.1.
    */
  def minhashSignaturesViaPostings(df: DataFrame, idCol: String, textCol: String,
      perms: Int, shingleW: Int = 3,
      family: MinHashFamily = XxHashFamily): DataFrame = {
    // two-level hashing: the O(len) string hash happens once per posting
    // (materialized by the projection under the aggregate); the perms
    // permutations then transform that single long (O(1) each) — an
    // equally valid MinHash family at a fraction of the hashing cost.
    // shinglePostings may repeat a shingle within a doc (no distinct) —
    // min() is unaffected and skipping the dedupe exchange is cheaper.
    val postings = shinglePostings(df, idCol, textCol, None, shingleW)
      .select(col("id"), family.firstLevel(col("shingle")).as("h"))
    val mins = (0 until perms).map(i => min(family.permute(col("h"), i)).as(s"m$i"))
    postings.groupBy("id")
      .agg(mins.head, mins.tail: _*)
      .select(col("id"), array((0 until perms).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** Single-buffer [[graft.plans.MinHashAggregate]] variant — identical
    * signatures, one Array[Long] buffer instead of perms slots. Useful
    * when perms is large enough that per-slot buffer bookkeeping and plan
    * width dominate; at perms ≤ 32 the codegen'd [[minhashSignatures]]
    * wins.
    */
  def minhashSignaturesViaAgg(df: DataFrame, idCol: String, textCol: String,
      perms: Int, shingleW: Int = 3): DataFrame = {
    val postings = shinglePostings(df, idCol, textCol, None, shingleW)
      .select(col("id"), xxhash64(col("shingle")).as("h"))
    postings.groupBy("id")
      .agg(graft.plans.MinHashAgg.minhashAgg(col("h"), perms).as("sig"))
  }

  /** MinHash-LSH candidate pairs: band the signature (`bands` bands of
    * `rows` rows), bucket by (band, hash(band-slice)), and emit pairs that
    * share ≥1 bucket. Shuffle key is the band-bucket hash — postings-list
    * join, no cross product. Returns (id_a, id_b, n_bands_shared).
    *
    * `maxBucketSize` drops degenerate buckets (a bucket of n docs implies
    * C(n,2) pairs — the bucket-skew failure [[minhashBandStats]] exists to
    * observe): near-exact-duplicate boilerplate clusters at 100 TB can put
    * millions of docs in one band bucket. Docs in a dropped bucket can
    * still pair through their other bands.
    */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
      bands: Int = 4, rowsPerBand: Int = 4, shingleW: Int = 3,
      family: MinHashFamily = XxHashFamily,
      maxBucketSize: Long = 100000): DataFrame = {
    // materialize the buckets through ONE exchange on the join key, and
    // apply the bucket-size cap as a count-over-window ON that
    // partitioning (the ngramJaccardPairs pattern): a groupBy+semijoin
    // formulation is a separate plan branch whose pruned projection
    // canonicalizes differently, so AQE cannot serve it from the same
    // stage and the scan + signature kernel would run again. The window
    // adds no exchange, and the self-join's two sides are identical
    // subtrees served via ReusedExchange.
    val bucketed = bandBuckets(df, idCol, textCol, bands, rowsPerBand, shingleW, family)
      .repartition(col("band"), col("bucket"))
    val szw = Window.partitionBy("band", "bucket")
    val kept = bucketed
      .withColumn("sz_", count(lit(1)).over(szw))
      .filter(col("sz_") <= maxBucketSize)
      .drop("sz_")
    val a = kept.as("a")
    val b = kept.as("b")
    a.join(b,
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
        col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_bands_shared"))
  }

  /** The persisted LSH index of a corpus: (id, band, bucket) rows, the
    * thing a day-over-day dedup pipeline stores (bucketed/partitioned by
    * (band, bucket)) so tomorrow's batch never re-signs the full history.
    * Same family/banding parameters MUST be used for index and probes.
    */
  def minhashIndex(df: DataFrame, idCol: String, textCol: String,
      bands: Int = 4, rowsPerBand: Int = 4, shingleW: Int = 3,
      family: MinHashFamily = XxHashFamily): DataFrame =
    bandBuckets(df, idCol, textCol, bands, rowsPerBand, shingleW, family)

  /** Incremental MinHash-LSH: candidates for a NEW batch against an
    * existing [[minhashIndex]] plus within the batch itself — the
    * steady-state shape at 100 TB (the history is touched only through
    * the (band, bucket)-keyed index join; nothing is re-signed).
    *
    * Returns the same (id_a, id_b, n_bands_shared) contract as
    * [[minhashCandidates]], restricted to pairs involving ≥1 new doc —
    * the spec pins exactly that equivalence. `maxBucketSize` counts
    * old+new members, like the full run would.
    */
  def minhashCandidatesIncremental(newDocs: DataFrame, idCol: String,
      textCol: String, existingIndex: DataFrame,
      bands: Int = 4, rowsPerBand: Int = 4, shingleW: Int = 3,
      family: MinHashFamily = XxHashFamily,
      maxBucketSize: Long = 100000): DataFrame = {
    val newB = bandBuckets(newDocs, idCol, textCol, bands, rowsPerBand, shingleW, family)
    // one exchange + count-over-window cap — see minhashCandidates
    val all = existingIndex.select("id", "band", "bucket")
      .withColumn("is_new", lit(false))
      .unionByName(newB.withColumn("is_new", lit(true)))
      .repartition(col("band"), col("bucket"))
    val szw = Window.partitionBy("band", "bucket")
    val kept = all
      .withColumn("sz_", count(lit(1)).over(szw))
      .filter(col("sz_") <= maxBucketSize)
      .drop("sz_")
    val keptNew = kept.filter(col("is_new"))
    // old–new pairs emit once from the old side regardless of id order;
    // new–new pairs once via the id-order guard
    kept.as("a").join(keptNew.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
        col("a.id") =!= col("b.id") &&
        (!col("a.is_new") || col("a.id") < col("b.id")))
      .groupBy(least(col("a.id"), col("b.id")).as("id_a"),
        greatest(col("a.id"), col("b.id")).as("id_b"))
      .agg(count(lit(1)).as("n_bands_shared"))
  }

  /** (id, band, bucket) rows: each doc's LSH band buckets. Band count and
    * row-per-band are static, so the band slice/hash is unrolled at plan
    * build time (stays in whole-stage codegen).
    */
  private def bandBuckets(df: DataFrame, idCol: String, textCol: String,
      bands: Int, rowsPerBand: Int, shingleW: Int,
      family: MinHashFamily = XxHashFamily): DataFrame = {
    val sig = minhashSignatures(df, idCol, textCol, bands * rowsPerBand, shingleW, family)
    sig.select(col("id"),
      posexplode(array((0 until bands).map(b =>
        family.bandBucket(slice(col("sig"), b * rowsPerBand + 1, rowsPerBand))): _*)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bucket")
  }

  /** Per-band LSH bucket statistics — the scale-observability view of
    * [[minhashCandidates]] (bucket skew is what kills LSH at 100 TB).
    * Returns one row per band: n_buckets, max/avg bucket size, n candidate
    * pairs implied by the band (sum over buckets of C(size,2)).
    */
  def minhashBandStats(df: DataFrame, idCol: String, textCol: String,
      bands: Int = 4, rowsPerBand: Int = 4, shingleW: Int = 3,
      family: MinHashFamily = XxHashFamily): DataFrame = {
    val bucketed = bandBuckets(df, idCol, textCol, bands, rowsPerBand, shingleW, family)
    bucketed.groupBy("band", "bucket").agg(count(lit(1)).as("sz"))
      .groupBy("band")
      .agg(count(lit(1)).as("n_buckets"),
        max("sz").as("max_bucket"),
        graft.functions.TextFunctions.round4hu(avg("sz")).as("avg_bucket"),
        sum(col("sz") * (col("sz") - 1) / 2).cast("long").as("n_cand_pairs"))
  }

  /** 64-bit SimHash of a token array: per token take xxhash64, then for each
    * bit position sum ±1 across tokens and keep the sign. Expressed with
    * aggregate() over the token array — stays inside whole-stage codegen.
    */
  def simhash(tokensCol: Column): Column = {
    // materialize token hashes once, then unroll the 64 bit positions as a
    // static Scala loop (shift amounts must be literal ints for codegen)
    val hs = transform(tokensCol, t => xxhash64(t))
    val bits = (0 until 64).map { i =>
      val bitSum = aggregate(hs, lit(0L), (acc, h) =>
        acc + when(shiftright(h, i).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L))
      when(bitSum > 0, lit(1L << i)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  /** Hamming distance between two 64-bit simhashes. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Bulk SimHash: (id, sig), default path — the native one-pass
    * [[graft.plans.SimHashSig]] kernel (tokenize → hash → bit-fold per
    * document, single codegen'd projection, no explode/agg/shuffle).
    * Identical signatures to [[simhashSignaturesViaPostings]]
    * (spec-pinned).
    */
  def simhashSignatures(df: DataFrame, idCol: String, textCol: String): DataFrame =
    // text predicate instead of sig.isNotNull — see minhashSignatures
    df.filter(col(textCol).isNotNull && col(textCol).rlike("\\S"))
      .select(col(idCol).as("id"),
        org.apache.spark.sql.GraftSqlBridge.knownNotNull(
          graft.plans.SignatureExpressions.simhashSig(col(textCol))).as("sig"))

  /** 32-bit SimHash over [[PortableHashFamily]]'s first-level hash — the
    * external-oracle-verifiable variant (md5-derived token hashes, so an
    * ANSI-SQL engine reproduces signatures exactly). Native one-pass
    * kernel, like [[simhashSignatures]].
    */
  def simhashSignatures32Portable(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.filter(col(textCol).isNotNull && col(textCol).rlike("\\S"))
      .select(col(idCol).as("id"),
        org.apache.spark.sql.GraftSqlBridge.knownNotNull(
          graft.plans.SignatureExpressions.simhashSig(col(textCol),
            portable = true)).as("sig"))

  /** SimHash via explode + `nBits` conditional-sum aggregations (map-side
    * combinable) — the relational parity twin of [[simhashSignatures]]
    * (same hash-once rationale as [[minhashSignaturesViaPostings]]).
    */
  def simhashSignaturesViaPostings(df: DataFrame, idCol: String, textCol: String,
      portable: Boolean = false): DataFrame =
    if (portable)
      simhashFromHashed(
        df.select(col(idCol).as("id"), explode(tokens(col(textCol))).as("t"))
          .select(col("id"), PortableHashFamily.firstLevel(col("t")).as("h")),
        nBits = 32)
    else
      simhashFromHashed(
        df.select(col(idCol).as("id"), explode(tokens(col(textCol))).as("t"))
          .select(col("id"), xxhash64(col("t")).as("h")),
        nBits = 64)

  /** Fold per-token hashes into a SimHash: per bit position sum ±1 across
    * tokens, keep the sign. `hashed`: (id, h) one row per token occurrence.
    */
  private def simhashFromHashed(hashed: DataFrame, nBits: Int): DataFrame = {
    val bitSums = (0 until nBits).map(i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L))
        .as(s"b$i"))
    hashed.groupBy("id")
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("id"),
        (0 until nBits).map(i => when(col(s"b$i") > 0, lit(1L << i)).otherwise(lit(0L)))
          .reduce((a, b) => a.bitwiseOR(b)).as("sig"))
  }

  /** SimHash near-dup candidates via pigeonhole chunk blocking: split the
    * 64-bit signature into `nChunks` equal-width chunks, bucket on each,
    * verify the full hamming distance within a bucket, keep pairs with
    * `hamming <= verifyThreshold`. Returns (id_a, id_b, hamming).
    *
    * RECALL CONTRACT: the candidate set is complete only for pairs with
    * hamming distance ≤ `nChunks - 1` (pigeonhole: fewer differing bits
    * than chunks forces at least one identical chunk). Pairs with more
    * differing bits spread across all chunks can be missed even when they
    * pass `verifyThreshold` — that is the standard SimHash recall/cost
    * trade: an exact guarantee at threshold t needs t+1 chunks, and chunk
    * width 64/(t+1) bits shrinks bucket cardinality exponentially (bigger
    * buckets → more verify pairs). Pick `nChunks = verifyThreshold + 1`
    * for completeness, or keep the default 4 chunks (complete to
    * distance 3) when throughput matters more than tail recall.
    *
    * `maxBucketSize` drops degenerate chunk buckets (identical-signature
    * clusters imply C(n,2) verify pairs — the same megabucket failure
    * capped in [[minhashCandidates]]); docs in a dropped bucket can still
    * pair through their other chunks.
    */
  def simhashCandidates(df: DataFrame, idCol: String, textCol: String,
      verifyThreshold: Int = 8, nChunks: Int = 4,
      maxBucketSize: Long = 100000): DataFrame =
    simhashCandidatesFromSigs(simhashSignatures(df, idCol, textCol),
      sigBits = 64, verifyThreshold, nChunks, maxBucketSize)

  /** [[simhashCandidates]] over the 32-bit portable signatures — same
    * blocking/verify shape, oracle-reproducible. Recall contract: complete
    * to hamming ≤ nChunks − 1 (see [[simhashCandidates]]).
    */
  def simhashCandidatesPortable(df: DataFrame, idCol: String, textCol: String,
      verifyThreshold: Int = 8, nChunks: Int = 4,
      maxBucketSize: Long = 100000): DataFrame =
    simhashCandidatesFromSigs(simhashSignatures32Portable(df, idCol, textCol),
      sigBits = 32, verifyThreshold, nChunks, maxBucketSize)

  private def simhashCandidatesFromSigs(sigs: DataFrame, sigBits: Int,
      verifyThreshold: Int, nChunks: Int, maxBucketSize: Long): DataFrame = {
    require(sigBits % nChunks == 0, s"nChunks must divide $sigBits, got $nChunks")
    val width = sigBits / nChunks
    val mask = if (width == 64) -1L else (1L << width) - 1L
    // one exchange on the chunk-bucket key + count-over-window cap — see
    // minhashCandidates. Same megabucket hazard: a cluster of identical
    // signatures (exact-copy boilerplate) puts n docs in ONE chunk bucket
    // → C(n,2) verify pairs per chunk; drop degenerate buckets — members
    // can still pair through their other chunks unless identical in all
    // of them.
    val chunked = sigs.select(col("id"), col("sig"),
      posexplode(array((0 until nChunks).map(c =>
        shiftright(col("sig"), c * width).bitwiseAND(lit(mask))): _*)))
      .withColumnRenamed("pos", "chunk")
      .withColumnRenamed("col", "chunk_val")
      .repartition(col("chunk"), col("chunk_val"))
    val szw = Window.partitionBy("chunk", "chunk_val")
    val kept = chunked
      .withColumn("sz_", count(lit(1)).over(szw))
      .filter(col("sz_") <= maxBucketSize)
      .drop("sz_")
    val a = kept.as("a")
    val b = kept.as("b")
    a.join(b,
        col("a.chunk") === col("b.chunk") && col("a.chunk_val") === col("b.chunk_val") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        hamming64(col("a.sig"), col("b.sig")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= verifyThreshold)
  }

  /** Connected components over an undirected candidate-pair list — the
    * step that turns near-dup PAIRS into dedup DECISIONS (transitive
    * closure: if a~b and b~c, all three are one duplicate cluster even
    * when a~c was never emitted). Returns (id, comp) with comp = the
    * cluster's minimum id.
    *
    * Algorithm: iterative min-label propagation with a pointer-jumping
    * step — each round every node takes the min label over {self} ∪
    * neighbor labels ∪ its current label's label (the jump makes chains
    * collapse in O(log diameter) rounds instead of O(diameter)). Each
    * round is two keyed shuffle joins + one aggregation; the loop stops
    * when a round changes nothing (one cheap count per round — the only
    * driver involvement). Near-dup clusters in practice have tiny
    * diameters, so rounds ≈ 2–3 at any corpus size.
    */
  def connectedComponents(pairs: DataFrame, idACol: String = "id_a",
      idBCol: String = "id_b", maxIter: Int = 15): DataFrame =
    Iterate.loop(pairs.sparkSession) { l =>
      // materialize the symmetric edge list ONCE: every round joins
      // against it, and when `pairs` is itself an expensive subtree
      // (q131 feeds the full shared-spans query in) a lazy edge frame
      // re-derives that subtree EVERY round — measured 14.3 s → 0.8 s
      // at sf0.1 on q131.
      val edges = l.pin(pairs.select(col(idACol).as("src"), col(idBCol).as("dst"))
        .union(pairs.select(col(idBCol).as("src"), col(idACol).as("dst")))
        .distinct())
      // round-1 labels has four consumers (neighbor-min join, pointer
      // jump, the next-label join, the convergence check) — checkpoint
      // it like every later round's
      var labels = l.ckpt(edges.select(col("src").as("id")).distinct()
        .withColumn("comp", col("id")))
      var converged = false
      var iter = 0
      while (!converged && iter < maxIter) {
        l.next()
        // neighbor-min: min label over incoming edges
        val neighborMin = edges
          .join(labels.withColumnRenamed("id", "src"), "src")
          .groupBy(col("dst").as("id")).agg(min("comp").as("nmin"))
        // pointer jump: my label's label
        val jump = labels.select(col("id").as("jid"), col("comp").as("jcomp"))
        val next = l.ckpt(labels
          .join(neighborMin, Seq("id"), "left")
          .join(jump.withColumnRenamed("jid", "comp_key"),
            labels("comp") === col("comp_key"), "left")
          .select(col("id"),
            least(col("comp"), coalesce(col("nmin"), col("comp")),
              coalesce(col("jcomp"), col("comp"))).as("comp")))
        // the previous round's checkpoint (keep=1) is still live here —
        // the convergence check reads both generations
        converged = next.join(labels.withColumnRenamed("comp", "prev"), "id")
          .filter(col("comp") =!= col("prev")).isEmpty
        labels = next
        iter += 1
      }
      // the final round's checkpoint backs the result; freed by the
      // ContextCleaner once the caller drops it
      l.finishKeepCurrent(labels)
    }

  /** Corpus dedup decision: given docs and verified near-dup pairs, keep
    * one representative (minimum id) per duplicate cluster plus every
    * unpaired doc. The standard last stage of an LLM-training dedup
    * pipeline.
    */
  def dedupByPairs(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val comps = connectedComponents(pairs)
    df.join(comps.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .filter(col("comp").isNull || col("comp") === col(idCol))
      .drop("comp")
  }

  /** Quality-aware [[dedupByPairs]]: keep the BEST document per
    * duplicate cluster under (`scoreCol` desc, `idCol` asc) instead of
    * the minimum id — the curation convention (near-dup groups keep the
    * highest-quality/longest member, not an arbitrary one), with the id
    * tiebreak keeping the choice deterministic on equal scores.
    *
    * Scale shape: one extra hash aggregate over (cluster →
    * min(struct(-score, id))) and one keyed join vs the min-id form;
    * clusters and singletons both route through the same argmin (a
    * singleton is its own cluster), so no special-casing and no window.
    */
  def dedupByPairsBest(df: DataFrame, idCol: String, scoreCol: String,
      pairs: DataFrame): DataFrame = {
    val comps = connectedComponents(pairs)
    val labeled = df.join(comps.withColumnRenamed("id", idCol),
        Seq(idCol), "left")
      .withColumn("__comp", coalesce(col("comp"), col(idCol)))
    val best = labeled.groupBy("__comp")
      .agg(min(struct((col(scoreCol) * -1).as("__ns"),
        col(idCol).as("__bid"))).as("__b"))
      .select(col("__comp"), col("__b.__bid").as("__best"))
    labeled.join(best, "__comp")
      .filter(col(idCol) === col("__best"))
      .drop("__comp", "comp", "__best")
  }

  /** Segment-level exact dedup: the line-level dedup of C4/RefinedWeb-style
    * corpus cleaning, here with a fixed `width`-token window segmenter
    * (this corpus has no newline structure; the operator is identical for
    * any deterministic splitter). Every doc is cut into consecutive
    * `width`-token segments; only the globally FIRST occurrence of each
    * distinct segment survives (ordered by (id, segment index)), and each
    * doc's surviving text is reassembled in segment order.
    *
    * Scale shape: the keep/drop decision shuffles only
    * `(id, idx, md5(segment))` — a 32-char digest per segment, never the
    * segment text (the q30 trick). Kept indices are collected per doc
    * (still digests only) and joined back to the source rows, where the
    * surviving text is rebuilt MAP-SIDE by re-slicing the token array.
    * The text itself crosses exactly one exchange (the id join).
    *
    * Output: idCol, `n_segs`, `n_kept`, `kept_text` (zero-token docs keep
    * `n_segs = 0`, `kept_text = ""`). A fully-duplicate doc keeps nothing.
    */
  def segmentDedup(df: DataFrame, idCol: String, textCol: String,
      width: Int): DataFrame = {
    require(width > 0, s"segment width must be positive, got $width")
    val base = segmentBase(df, idCol, textCol, width)
    reassemble(base, firstPosting(segmentPosts(base, width)), idCol, width)
  }

  /** 2³¹ — `__idx` is a non-negative int, so (id, idx) packs losslessly
    * into `id * 2³¹ + idx`, order-preserving for any integral id
    * (negative included: idx ∈ [0, 2³¹) keeps the id ranges disjoint
    * and monotone).
    */
  private val IdxBits = 2147483648L

  /** Globally-first posting per segment digest WITHOUT a window.
    *
    * The obvious shape — `row_number() over Window.partitionBy(__h)
    * .orderBy(__id, __idx)` — puts EVERY posting of a hot digest into one
    * task's sort. A boilerplate segment present in half the corpus (the
    * very input segment dedup exists for) then serializes the whole
    * operator through one core.
    *
    * Because a posting is exactly `(id, idx, digest)`, the minimum of an
    * order-preserving encoding of (id, idx) per digest IS the winning
    * posting — no join back. HOW that minimum aggregates matters as much
    * as avoiding the window (measured, hot-segment ladder, PERF_NOTES
    * r9): `min(struct(id, idx))` has a non-mutable buffer, so BOTH
    * phases plan as SortAggregate — two full posting sorts, 2× the
    * window's wall on uniform data. Packing (id, idx) into one
    * fixed-width `decimal` keeps the aggregate a codegen'd
    * HashAggregate: map-side partials cap any digest at one row per
    * input partition, and NO phase sorts anything. For non-integral ids
    * (no lossless packing) the struct-min fallback stands: 2× sort cost,
    * but every task stays bounded — the property that matters at scale.
    *
    * Priced honestly, crossover LOCATED (r10). Full-pipeline ladder
    * (one segment in HALF the docs, quiet machine): the windowed shape
    * measures faster through 16M docs — 3.47/9.39/30.81 s vs this
    * shape's 4.88/14.63/39.91 s at 1M/4M/16M — because sorting 8M
    * digest-only postings in one task costs low single-digit seconds
    * while this shape pays the winners join back. A decision-stage-
    * only ladder (synthetic postings, no text, rungs to 128M docs)
    * finds where that stops: windowed 1.51 s vs grouped
    * 1.77 s at 16M, then **4.19 vs 10.79 s at 64M (grouped 2.6×
    * ahead)** and 10.65 vs 12.10 s at 128M — the hot partition's
    * single-task sort (32M/64M postings of one digest) finally
    * dominates between 16M and 64M docs. At 100 TB (~10⁹ postings on a
    * ubiquitous segment) the window serializes for minutes; this
    * shape's per-task work stays bounded by construction.
    * [[segmentDedupWindowed]] keeps the window shape as the spec's
    * reference.
    */
  private def firstPosting(posts: DataFrame): DataFrame = {
    import org.apache.spark.sql.types._
    posts.schema("__id").dataType match {
      case idT @ (ByteType | ShortType | IntegerType | LongType) =>
        // decimal(20,0) holds any long; ×2³¹+idx stays ≤ 2e28 ≪ 1e38
        posts.groupBy("__h")
          .agg(min(col("__id").cast(DecimalType(20, 0)) * lit(IdxBits)
            + col("__idx")).as("__w"))
          .select(col("__h"),
            // (w − idx) / 2³¹ divides exactly — no float/rounding leg
            ((col("__w") - pmod(col("__w"), lit(IdxBits))) / lit(IdxBits))
              .cast(idT).as("__id"),
            pmod(col("__w"), lit(IdxBits)).cast("int").as("__idx"))
      case _ =>
        posts.groupBy("__h")
          .agg(min(struct(col("__id"), col("__idx"))).as("__w"))
          .select(col("__h"), col("__w.__id").as("__id"),
            col("__w.__idx").as("__idx"))
    }
  }

  /** The round-8 `row_number` window shape of [[segmentDedup]]'s
    * keep-first rule: the reference for the keep-first spec, which
    * checks [[segmentDedup]] against it row for row. Not a query path
    * (see [[firstPosting]] for why the window was replaced).
    */
  private[graft] def segmentDedupWindowed(df: DataFrame, idCol: String,
      textCol: String, width: Int): DataFrame = {
    require(width > 0, s"segment width must be positive, got $width")
    val base = segmentBase(df, idCol, textCol, width)
    val firstOnly = segmentPosts(base, width)
      .withColumn("__rn", row_number().over(
        Window.partitionBy("__h").orderBy(col("__id"), col("__idx"))))
      .filter(col("__rn") === 1)
    reassemble(base, firstOnly, idCol, width)
  }

  /** Boilerplate strip: remove EVERY occurrence of any segment that
    * appears in more than `maxDf` distinct documents — the df-based
    * cleanup (headers, disclaimers, injected templates) that
    * [[segmentDedup]]'s keep-first rule deliberately does not do (the
    * first copy of boilerplate is still boilerplate). Same digest-only
    * decision shuffle and map-side reassembly; the extra cost is one
    * distinct-count aggregation over the digests.
    *
    * Output: idCol, `n_segs`, `n_kept`, `kept_text`.
    */
  def stripBoilerplate(df: DataFrame, idCol: String, textCol: String,
      width: Int, maxDf: Long): DataFrame = {
    require(width > 0, s"segment width must be positive, got $width")
    require(maxDf >= 1, s"maxDf must be >= 1, got $maxDf")
    val base = segmentBase(df, idCol, textCol, width)
    val posts = segmentPosts(base, width)
    // document frequency per segment digest (a doc repeating its own
    // segment counts once); rejoin on the digest keeps the decision
    // stream at (id, idx, 32 chars)
    val dfs = posts.groupBy("__h")
      .agg(countDistinct("__id").as("__df"))
    val kept = posts.join(dfs, Seq("__h")).filter(col("__df") <= maxDf)
    reassemble(base, kept, idCol, width)
  }

  /** Cross-block segment-overlap matrix: for every block pair (a < b),
    * the number of DISTINCT `width`-token segments present in both — the
    * contamination diagnostic ("how much of corpus A recurs in corpus
    * B") run before mixing sources into a training set. Digest-only:
    * distinct (block, md5(segment)) postings self-joined on the digest;
    * a segment present in k blocks emits C(k,2) pairs — bounded by
    * #blocks² per segment, never corpus size.
    */
  def segmentOverlapMatrix(df: DataFrame, idCol: String, textCol: String,
      blockCol: String, width: Int): DataFrame = {
    require(width > 0, s"segment width must be positive, got $width")
    val posts = segmentPosts(segmentBase(df, idCol, textCol, width), width)
      .join(df.select(col(idCol).as("__id"), col(blockCol).as("__blk")), Seq("__id"))
      .select(col("__blk"), col("__h")).distinct()
    posts.as("a")
      .join(posts.as("b"),
        col("a.__h") === col("b.__h") && col("a.__blk") < col("b.__blk"))
      .groupBy(col("a.__blk").as("block_a"), col("b.__blk").as("block_b"))
      .agg(count(lit(1)).as("n_shared_segments"))
  }

  /** Corpus-curation funnel: boilerplate strip (df > `maxDf` segments
    * removed everywhere) THEN first-occurrence dedup of what survives,
    * composed in ONE pass over the segment postings (segment once, one
    * digest exchange family — re-segmenting between stages would re-cut
    * windows across removal boundaries and re-shuffle the corpus), with
    * per-`blockCol` survival counts at each stage. The curation report a
    * pipeline runs before committing to a training mix.
    *
    * Output per block: `n_docs`, `n_segs`, `n_after_strip`,
    * `n_after_dedup` (dedup's first-occurrence rule applies AFTER the
    * strip, ordered by (id, idx)).
    */
  def curationFunnel(df: DataFrame, idCol: String, textCol: String,
      blockCol: String, width: Int, maxDf: Long): DataFrame = {
    require(width > 0, s"segment width must be positive, got $width")
    require(maxDf >= 1, s"maxDf must be >= 1, got $maxDf")
    val blocks = df.select(col(idCol).as("__id"), col(blockCol).as("__blk"))
    val posts = segmentPosts(segmentBase(df, idCol, textCol, width), width)
      .join(blocks, Seq("__id"))
    val dfs = posts.groupBy("__h").agg(countDistinct("__id").as("__df"))
    val stripped = posts.join(dfs, Seq("__h")).filter(col("__df") <= maxDf)
    // post-strip digests have df <= maxDf, so the round-8 window here was
    // already bounded — but the no-window firstPosting shape is strictly
    // better (map-side partial agg, no sort) and keeps both dedup stages
    // on one code path; the block label rejoins by doc id
    val deduped = firstPosting(stripped.select("__id", "__idx", "__h"))
      .join(blocks, Seq("__id"))
    val nDocs = blocks.groupBy("__blk").agg(count(lit(1)).as("n_docs"))
    val nSegs = posts.groupBy("__blk").agg(count(lit(1)).as("n_segs"))
    val nStrip = stripped.groupBy("__blk").agg(count(lit(1)).as("n_after_strip"))
    val nDedup = deduped.groupBy("__blk").agg(count(lit(1)).as("n_after_dedup"))
    nDocs.join(nSegs, Seq("__blk"), "left")
      .join(nStrip, Seq("__blk"), "left")
      .join(nDedup, Seq("__blk"), "left")
      .na.fill(0L, Seq("n_segs", "n_after_strip", "n_after_dedup"))
      .withColumnRenamed("__blk", blockCol)
  }

  /** [[segmentDedup]] against an external set of already-seen segment
    * digests: keep-first WITHIN `df`, then drop any segment whose digest
    * appears in `seenDigests` (a frame with column `__h`) — the
    * per-batch kernel of
    * [[graft.streaming.StreamingDedup.screenSegmentsBatch]]. Same
    * (id, n_segs, n_kept, kept_text) contract as [[segmentDedup]]; the
    * history side is touched only through a left-anti join on the
    * 32-char digests, never re-segmented.
    */
  private[graft] def segmentDedupAgainst(df: DataFrame, idCol: String,
      textCol: String, width: Int, seenDigests: DataFrame): DataFrame = {
    require(width > 0, s"segment width must be positive, got $width")
    val base = segmentBase(df, idCol, textCol, width)
    val kept = firstPosting(segmentPosts(base, width))
      .join(seenDigests.select(col("__h")), Seq("__h"), "left_anti")
    reassemble(base, kept, idCol, width)
  }

  /** INTRA-document segment dedup — [[segmentDedup]]'s keep-first rule
    * scoped to each document alone (the C4-style "drop repeated spans
    * within a page" cleanup): a segment repeated INSIDE a doc keeps its
    * first occurrence there, but two DIFFERENT docs sharing a segment
    * both keep it — self-repetition is removed without any cross-doc
    * coupling, so the operator is embarrassingly parallel by doc.
    *
    * Scale shape: the keep decision is one hash aggregate keyed on
    * (id, digest) — min idx per pair, partial map-side, no window, no
    * cross-doc shuffle semantics (the digest only ever meets digests of
    * the same doc). Text rebuilds map-side via the same re-slicing as
    * [[segmentDedup]].
    *
    * Output: idCol, `n_segs`, `n_kept`, `kept_text`.
    */
  def segmentDedupIntra(df: DataFrame, idCol: String, textCol: String,
      width: Int): DataFrame = {
    require(width > 0, s"segment width must be positive, got $width")
    val base = segmentBase(df, idCol, textCol, width)
    val kept = segmentPosts(base, width)
      .groupBy("__id", "__h").agg(min("__idx").as("__idx"))
      .select("__id", "__idx")
    reassemble(base, kept, idCol, width)
  }

  /** Distinct segment digests of `df` — the rows a segment-screening
    * ingest appends to its seen-index per batch.
    */
  private[graft] def segmentDigests(df: DataFrame, idCol: String,
      textCol: String, width: Int): DataFrame = {
    require(width > 0, s"segment width must be positive, got $width")
    segmentPosts(segmentBase(df, idCol, textCol, width), width)
      .select(col("__h")).distinct()
  }

  /** [[segmentDigests]] WITH the contributing document id — the r13
    * seen-index row format: (id, __h), distinct per pair. Attribution
    * is what makes targeted deletion possible: tombstoning an id
    * removes exactly the digests only THAT document contributed, while
    * a digest shared with a surviving document stays seen through the
    * survivor's row — matching a seen-index rebuilt from the surviving
    * corpus. Slightly larger than the digest-only store (a digest
    * repeats per contributing doc within a batch); the screen's
    * anti-join semantics are unchanged by duplicates.
    */
  private[graft] def segmentDigestsAttributed(df: DataFrame, idCol: String,
      textCol: String, width: Int): DataFrame = {
    require(width > 0, s"segment width must be positive, got $width")
    segmentPosts(segmentBase(df, idCol, textCol, width), width)
      .select(col("__id").as("id"), col("__h")).distinct()
  }

  /** Token arrays + segment counts for the fixed-window segmenter. */
  private def segmentBase(df: DataFrame, idCol: String, textCol: String,
      width: Int): DataFrame =
    df.select(col(idCol).as("__id"), tokens(col(textCol)).as("__tk"))
      .withColumn("__n_segs",
        expr(s"(size(__tk) + ${width - 1}) div $width").cast("long"))

  /** (id, idx, digest) posting rows — explode drops zero-segment docs;
    * they rejoin through [[reassemble]]'s left join.
    */
  private def segmentPosts(base: DataFrame, width: Int): DataFrame = {
    base
      .withColumn("__idx", explode(
        when(col("__n_segs") > 0,
          sequence(lit(0), (col("__n_segs") - 1).cast("int")))
          .otherwise(array().cast("array<int>"))))
      .select(col("__id"), col("__idx"),
        md5(segAt(col("__tk"), col("__idx"), width)).as("__h"))
  }

  private def segAt(tk: Column, i: Column, width: Int): Column =
    array_join(slice(tk, i * width + 1, lit(width)), " ")

  /** Maximal shared token SPANS between document pairs — the exact-
    * substring copy-detection primitive (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better", done
    * relationally instead of with suffix arrays): a span of `span`
    * tokens shared verbatim by two documents is a run of `span − w + 1`
    * consecutive matching w-gram digests, so the operator grams every
    * position (stride 1, unlike [[segmentDedup]]'s aligned blocks),
    * equi-joins digests across documents, and groups matches along
    * DIAGONALS (pb − pa constant — the alignment): consecutive
    * positions within a diagonal are one shared span, maximal by
    * construction (a gap breaks the run id).
    *
    * Scale shape: postings ≈ corpus tokens (32-char digest + two
    * longs); hot digests are df-capped BEFORE the pair join (boilerplate
    * grams — [[stripBoilerplate]]'s territory; the documented recall
    * trade, same as [[ngramJaccardPairs]]'s shingle cap) and
    * single-document digests are dropped (df ≥ 2 — only shareable grams
    * join). The run grouping is one window per (pair, diagonal),
    * bounded by the capped per-pair match count. Internal periodicity
    * yields one maximal span PER alignment (standard for
    * diagonal-method matchers).
    *
    * Output: (id_a, id_b, start_a, start_b, span_tokens) with
    * id_a < id_b, 0-based token offsets, span_tokens ≥ `minSpan`.
    */
  def sharedSpans(df: DataFrame, idCol: String, textCol: String,
      w: Int = 8, maxGramDf: Long = 50, minSpan: Int = 12): DataFrame = {
    require(w >= 1, s"w must be >= 1, got $w")
    require(minSpan >= w, s"minSpan $minSpan must be >= w $w")
    require(maxGramDf >= 2, s"maxGramDf must be >= 2, got $maxGramDf")
    val toks = df.select(col(idCol).as("__id"), tokens(col(textCol)).as("__tk"))
      .filter(size(col("__tk")) >= w)
    // one digest per POSITION: sequence(0, n-w) is safe under the
    // filter above (a negative bound would generate descending)
    val grams = toks.select(col("__id"), explode(
        transform(sequence(lit(0), size(col("__tk")) - w),
          i => struct(i.as("pos"),
            md5(array_join(slice(col("__tk"), i + 1, lit(w)), " ")).as("g"))))
        .as("p"))
      .select(col("__id"), col("p.pos").as("pos"), col("p.g").as("g"))
    val keep = grams.join(
      grams.groupBy("g").agg(countDistinct("__id").as("__df"))
        .filter(col("__df") >= 2 && col("__df") <= maxGramDf)
        .select("g"),
      Seq("g"))
    val m = keep.as("a").join(keep.as("b"),
        col("a.g") === col("b.g") && col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"),
        col("a.pos").as("pa"), col("b.pos").as("pb"),
        (col("b.pos") - col("a.pos")).as("d"))
    val run = m.withColumn("__run",
      col("pa") - row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("id_a", "id_b", "d").orderBy("pa")))
    run.groupBy("id_a", "id_b", "d", "__run")
      .agg(min("pa").cast("long").as("start_a"),
        min("pb").cast("long").as("start_b"),
        (max("pa") - min("pa") + w).cast("long").as("span_tokens"))
      .filter(col("span_tokens") >= minSpan)
      .select("id_a", "id_b", "start_a", "start_b", "span_tokens")
  }

  /** Substring-dedup REMOVAL — the rewrite half of [[sharedSpans]]
    * (Lee et al. 2022 keep ONE occurrence of every duplicated span and
    * cut the rest): for each span row the LATER document of the pair
    * (`id_b` under the `id_a < id_b` convention) loses its
    * `[start_b, start_b + span_tokens)` token interval; the earlier
    * document keeps its copy, so one occurrence always survives
    * corpus-wide. A document cut by many pairs unions its intervals
    * first (overlaps + adjacency merge — the standard islands pass:
    * running max of predecessor ends, new island when a start clears
    * it), then the surviving text is rebuilt MAP-SIDE from the token
    * array with higher-order builtins (filter positions outside every
    * merged interval → transform to tokens → array_join) — no
    * per-token shuffle, no UDF.
    *
    * Scale shape: the only shuffles are the islands window (keyed by
    * doc — interval counts per doc are small, bounded by the span
    * list) and the left join of merged interval arrays back to the
    * corpus. The reconstruction scans each doc's tokens once against
    * its own (tiny) interval array. Documents never appearing as
    * `id_b` pass through whole via the left join.
    *
    * Output: (idCol, n_tokens, n_removed, kept_text), one row per
    * input document.
    */
  def removeSpans(df: DataFrame, idCol: String, textCol: String,
      spans: DataFrame): DataFrame = {
    val iv = spans.select(col("id_b").as("__id"),
      col("start_b").cast("long").as("__s"),
      (col("start_b") + col("span_tokens")).cast("long").as("__e"))
    val w = Window.partitionBy("__id").orderBy("__s", "__e")
    val merged = iv
      .withColumn("__pmax", max(col("__e"))
        .over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("__isl", sum(
        when(col("__pmax").isNull || col("__s") > col("__pmax"), 1L)
          .otherwise(0L)).over(w))
      .groupBy("__id", "__isl")
      .agg(min("__s").as("__s"), max("__e").as("__e"))
      .groupBy("__id")
      .agg(sort_array(collect_list(struct(col("__s"), col("__e"))))
        .as("__cut"))
    val toks = df.select(col(idCol).as("__id"),
      tokens(coalesce(col(textCol), lit(""))).as("__tk"))
    toks.join(merged, Seq("__id"), "left")
      .withColumn("__cut", coalesce(col("__cut"),
        array().cast("array<struct<__s:bigint,__e:bigint>>")))
      .withColumn("__keep",
        filter(
          when(size(col("__tk")) > 0,
            sequence(lit(0L), size(col("__tk")).cast("long") - 1L))
            .otherwise(array().cast("array<bigint>")),
          p => !exists(col("__cut"),
            c => p >= c.getField("__s") && p < c.getField("__e"))))
      .select(
        col("__id").as(idCol),
        size(col("__tk")).cast("long").as("n_tokens"),
        (size(col("__tk")) - size(col("__keep"))).cast("long")
          .as("n_removed"),
        array_join(
          transform(col("__keep"),
            p => element_at(col("__tk"), (p + 1L).cast("int"))),
          " ").as("kept_text"))
  }

  /** The "most duplicated passages" datasheet report: [[sharedSpans]]
    * instances grouped by their actual CONTENT (the passage text, sliced
    * from the earlier doc's tokens), ranked by how often the passage is
    * shared. The human-readable rollup of the span table — boilerplate
    * that survived the gram df cap, licence blocks, templated intros —
    * the first thing a curator reads before tuning [[removeSpans]].
    *
    * Scale shape: everything downstream of the span table is bounded by
    * it — the token arrays join in only for ids appearing as `id_a`
    * (slice + array_join map-side), and the single aggregate counts
    * span instances (`n_spans` = rows div 2 after the pair explode) and
    * distinct holders (`n_docs`) in one pass, no diamond over the span
    * subtree. Top-k is orderBy+limit — `TakeOrderedAndProject`.
    *
    * Output: (passage, span_tokens, n_spans, n_docs), the k most-shared
    * passages by (n_spans desc, passage) — a total order.
    */
  def topSharedPassages(df: DataFrame, idCol: String, textCol: String,
      w: Int = 8, maxGramDf: Long = 50, minSpan: Int = 12,
      k: Int = 10): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spans = sharedSpans(df, idCol, textCol, w, maxGramDf, minSpan)
    val toks = df.select(col(idCol).as("__id"), tokens(col(textCol)).as("__tk"))
    spans.join(toks, spans("id_a") === toks("__id"))
      .select(
        array_join(slice(col("__tk"), (col("start_a") + 1).cast("int"),
          col("span_tokens").cast("int")), " ").as("passage"),
        col("span_tokens"), explode(array(col("id_a"), col("id_b"))).as("__d"))
      .groupBy("passage")
      .agg((count(lit(1)) / 2).cast("long").as("n_spans"),
        max("span_tokens").cast("long").as("span_tokens"),
        countDistinct("__d").as("n_docs"))
      .select("passage", "span_tokens", "n_spans", "n_docs")
      .orderBy(col("n_spans").desc, col("passage"))
      .limit(k)
  }

  /** Collect kept indices per doc (digests only), rejoin to the token
    * arrays and rebuild the surviving text map-side by re-slicing.
    */
  private def reassemble(base: DataFrame, kept: DataFrame, idCol: String,
      width: Int): DataFrame = {
    val keptIdx = kept.groupBy("__id")
      .agg(sort_array(collect_list("__idx")).as("__keep"))
    base.join(keptIdx, Seq("__id"), "left")
      .withColumn("__keep", coalesce(col("__keep"), array().cast("array<int>")))
      .select(
        col("__id").as(idCol),
        col("__n_segs").as("n_segs"),
        size(col("__keep")).cast("long").as("n_kept"),
        array_join(
          flatten(transform(col("__keep"),
            i => slice(col("__tk"), i * width + 1, lit(width)))),
          " ").as("kept_text"))
  }
}
