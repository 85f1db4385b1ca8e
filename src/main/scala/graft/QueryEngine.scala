package graft

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Batched indexed query — the graft of the reference's two-phase routed
  * query (`TopWId` routing + `TopKId` scan, EP3 in SURVEY.md §3):
  *
  *  Phase 1 (driver, no job): build the per-batch term table — idf per
  *  query term from the stats table (the reference's per-query `DTable`
  *  LUT, `src/index_ivfpq.cpp:554-568`), memoized on the open handle —
  *  and, for a term-partitioned index, the candidate partition set
  *  (term-partition pruning: rare terms hash to exactly one (term,0)
  *  partition, computed with [[IndexBuild.partIdOf]]; salted head terms
  *  enumerate their docId buckets). The plan is broadcast. A batch none of
  *  whose terms is in the index is answered here, empty.
  *
  *  Phase 2 (one scan for the WHOLE query batch, like `TopKId`'s single
  *  OMP pass):
  *   - cached doc-partitioned handle ([[runPacked]]): ONE job. Each task
  *     looks up the batch's terms in its packed serving partition
  *     ([[ServingPart]]) and scores every query over them with the shared
  *     per-bucket scorer ([[scoreBuckets]]);
  *   - uncached doc-partitioned index, or a head-heavy batch on a
  *     term-partitioned one ([[runDocPartitioned]]): scan the batch's rows,
  *     co-locate them by docId bucket (one shuffle), same scorer;
  *   - rare-term batch on a term-partitioned index ([[run]]): scan only
  *     the candidate partitions, group per query, block-max [[Wand]].
  *  The bounded nq·k hits merge on the driver and come back as a local
  *  DataFrame in (query_id, rank) order — no sort job.
  *
  * Scale note: the doc-partitioned paths bound per-task memory by the
  * bucket width; the per-query grouping holds ONE query's compressed
  * lists and is only taken below [[MaxGroupPostings]].
  */
object QueryEngine {

  /** Pruning-effort accumulators (reference analog: the global
    * `num_searched_cluster/vector` reduction counters printed per batch,
    * `src/index_ivfpq.cpp:257-294` — SURVEY.md §2.4 A4). */
  final class EffortAccs(spark: SparkSession) extends Serializable {
    val wandCalls = spark.sparkContext.longAccumulator("wand_calls")
    val blocksTotal = spark.sparkContext.longAccumulator("blocks_total")
    val blocksDecoded = spark.sparkContext.longAccumulator("blocks_decoded")
    // Docs TOUCHED after pruning: per scorer call, the candidates the
    // bucket scorer offered or scanned once chunk-max skipping and the TA
    // walk had run (a WAND call counts the docs it fully scored). Pruning
    // lowers it, so it is not the count of docs holding a query term.
    // The name is kept because the benchmark's buckettaat.docs_touched
    // reads it.
    val docsScored = spark.sparkContext.longAccumulator("docs_scored")
    // Wall-time split of the batched scorer (task-summed nanos; the
    // SURVEY §7.5 codegen-Expression question needs the DECODE share of
    // query time, not just the decode count): VByte block decode vs BM25
    // contribution precompute vs TAAT accumulate vs top-k heap merge.
    val decodeNanos = spark.sparkContext.longAccumulator("decode_nanos")
    val contribNanos = spark.sparkContext.longAccumulator("contrib_nanos")
    val scoreNanos = spark.sparkContext.longAccumulator("score_nanos")
    val mergeNanos = spark.sparkContext.longAccumulator("merge_nanos")
    // (query, bucket) evaluations skipped by the block-max bound carry
    val bucketsSkipped = spark.sparkContext.longAccumulator("buckets_skipped")
    def sink(e: Wand.Effort): Unit = {
      wandCalls.add(1L)
      blocksTotal.add(e.blocksTotal)
      blocksDecoded.add(e.blocksDecoded)
      docsScored.add(e.docsScored)
    }
    override def toString: String =
      s"wand_calls=${wandCalls.value} blocks_total=${blocksTotal.value} " +
        s"blocks_decoded=${blocksDecoded.value} docs_scored=${docsScored.value} " +
        s"buckets_skipped=${bucketsSkipped.value} " +
        s"decode_ms=${decodeNanos.value / 1000000} contrib_ms=${contribNanos.value / 1000000} " +
        s"score_ms=${scoreNanos.value / 1000000} merge_ms=${mergeNanos.value / 1000000}"
  }

  /** Broadcast query plan (the "DTable" of the batch). */
  final case class Plan(
      k: Int,
      avgdl: Double,
      termIdf: Map[String, Double],
      termToQueries: Map[String, Seq[Int]],
      queryTermSets: Map[Int, Seq[String]],
      bucketWidth: Long = 0L, // doc-partitioned batch scoring needs the geometry
      conjunctive: Boolean = false, // AND semantics: docs must match EVERY query term
      // attribute filter as virtual posting lists ([[Attrs]]): a doc may
      // reach any heap only if it appears in at least one of these lists
      // (OR across the values of an IN-predicate). BM25 stats stay
      // corpus-global — a filter restricts candidates, not scoring.
      filterTerms: Seq[String] = Nil,
      // range predicate `attr BETWEEN lo AND hi` over NUMERIC attr values
      // ([[Attrs.rangeTermMatches]]): same virtual-list mask as
      // filterTerms, the requested lists selected by value range instead
      // of an explicit IN set
      filterRange: Option[(String, Double, Double)] = None,
      // df per QUERY term (what plan() was given): the head-heavy guard
      // sizes each query's candidate posting mass from this driver-side
      // instead of launching a per-batch aggregation job over `postings`
      // (which re-executes an unpersisted pipeline). Empty in hand-built
      // plans — [[run]] then falls back to the sizing job.
      termDf: Map[String, Long] = Map.empty) {

    /** Any attribute filter in force? (empty-IN batches are answered
      * upstream — [[runOnHandle]] returns empty before planning). */
    def filterActive: Boolean = filterTerms.nonEmpty || filterRange.isDefined

    @transient private lazy val filterTermSet: Set[String] = filterTerms.toSet

    /** Is this term one of the predicate's requested virtual lists? The
      * BINDING match decision for the mask fold — both the cached path
      * (which sees every persisted attr list) and the disk path (whose
      * Catalyst pre-selection is a superset) apply it. */
    def isRequestedFilter(term: String): Boolean =
      Attrs.isFilterTerm(term) && (filterTermSet.contains(term) ||
        filterRange.exists { case (a, lo, hi) =>
          Attrs.rangeTermMatches(term, a, lo, hi) })
  }

  /** Build the batch plan from per-term stats (df) + corpus scalars.
    * `termStats` may be the full stats table; only query terms are used.
    *
    * `conjunctive = true` switches the batch to AND semantics: a doc
    * qualifies only if it contains EVERY distinct term of the query
    * (scored by the same BM25 sum over them). A query containing a term
    * absent from the corpus can match nothing — it is dropped from the
    * plan here, so the scorer only ever needs the all-present term count. */
  def plan(cs: CorpusStats, termDf: Map[String, Long],
           queries: Seq[(Int, Seq[String])] = QuerySet.queryTerms,
           k: Int = QuerySet.K, conjunctive: Boolean = false): Plan = {
    val live =
      if (conjunctive) queries.filter(_._2.forall(termDf.contains)) else queries
    val terms = live.flatMap(_._2).distinct.filter(termDf.contains)
    val idf = terms.map(t => t -> Bm25.idf(cs.n_docs, termDf(t))).toMap
    val t2q = live
      .flatMap { case (qid, ts) => ts.filter(termDf.contains).map(t => (t, qid)) }
      .groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).sorted }
    val qts = live.map { case (qid, ts) => qid -> ts.filter(termDf.contains) }.toMap
    Plan(k, cs.avgdl, idf, t2q, qts, conjunctive = conjunctive,
      termDf = terms.map(t => t -> termDf(t)).toMap)
  }

  /** Carried per-query top-k under the frozen (score DESC, doc_id ASC)
    * order: a sorted prefix of length `n` maintained by shift-insert (k is
    * small). The scorer SEEDS its selection with this state, which (a)
    * makes the cross-bucket merge free — offering into the carried heap IS
    * the merge, so the per-(query, bucket) `mergeTopK` + Vector allocation
    * disappear — and (b) turns the carried k-th score into a θ floor every
    * scorer path can reject against with one compare. Exactness: a doc
    * rejected by `offer` has (score, doc) strictly dominated by the current
    * k-th, and the final k-th only rises, so the reject can never exclude a
    * true top-k member (the reference's partial_sort + threshold argument,
    * `src/index_ivf.cpp:220-234`). */
  final class QueryHeap(val k: Int) {
    val hScore = new Array[Long](k)
    val hDoc = new Array[Long](k)
    var n = 0
    /** Current k-th score — the θ floor (MinValue until the heap fills). */
    def kth: Long = if (n == k) hScore(k - 1) else Long.MinValue
    /** TIGHT θ floor: when the heap is full and every doc still to be
      * offered has doc_id ≥ base > hDoc(k-1), a tie on the k-th score can
      * never be accepted under the frozen (score DESC, doc_id ASC) order
      * (the tie-breaker needs a SMALLER doc_id), so acceptance reduces to
      * the single strict compare `s > kth`. Stays valid THROUGHOUT an
      * ascending-docId offer sequence: each accepted doc is ≥ base and
      * < every later candidate, so hDoc(k-1) remains below the next
      * candidate — callers must offer docs in ascending order. */
    def tightFloorFor(base: Long): Boolean = n == k && base > hDoc(k - 1)
    def offer(s: Long, d: Long): Unit = {
      if (n == k && (s < hScore(n - 1) ||
          (s == hScore(n - 1) && d > hDoc(n - 1)))) return
      var pos = if (n < k) n else n - 1
      while (pos > 0 && (hScore(pos - 1) < s ||
          (hScore(pos - 1) == s && hDoc(pos - 1) > d))) {
        if (pos < k) { hScore(pos) = hScore(pos - 1); hDoc(pos) = hDoc(pos - 1) }
        pos -= 1
      }
      hScore(pos) = s; hDoc(pos) = d
      if (n < k) n += 1
    }
    def toCands: Seq[TopK.Cand] = {
      val b = Vector.newBuilder[TopK.Cand]
      var i = 0
      while (i < n) { b += TopK.Cand(hDoc(i), hScore(i)); i += 1 }
      b.result()
    }
  }

  /** Batched per-bucket scorer: shared-contribution term-at-a-time.
    *
    * Per bucket: decode each term's postings ONCE and precompute its
    * integer micro-contributions ONCE (every query using the term reuses
    * them — the whole-batch analog of the reference's per-query DTable);
    * then each query scores its lists into its carried [[QueryHeap]].
    * Exhaustive within the bucket ⇒ exactly the integer-micro scores of
    * the oracle; preferable to per-query WAND when nq is large and terms
    * are head-heavy (no cursor machinery, no per-query re-decode,
    * branch-free inner loops).
    *
    * Three accumulation shapes, picked per (query, bucket) — all exact,
    * differing only in constant factors (the round-4 phase profile put
    * this accumulate+select phase at 92% of query task time, 6.4e9
    * touched-doc operations at 8M docs / nq=1000):
    *  - ONE list present → no accumulator at all: stream the list
    *    straight into the heap (one θ compare per posting).
    *  - Σ list lengths ≥ width (the webtext regime — head terms put ~77%
    *    of the bucket in every list) → DENSE: branch-free `+=` into a
    *    zeroed width array, then one sequential scan. Each add carries
    *    [[DenseTag]] in the high bits so a doc whose contributions sum to
    *    0 micros is still distinguishable from an untouched slot (df≈N
    *    terms at huge N can floor to 0 — rank-identity cannot depend on
    *    contribs being nonzero).
    *  - otherwise → SPARSE: the stamp-cleared scatter of rounds 1-3
    *    (cost ∝ touched docs, not width). */
  final class BucketTaat(width: Int, k: Int) {
    private val scores = new Array[Long](width)
    private val stamp = new Array[Int](width)
    private val touched = new Array[Int](width)
    private var curStamp = 0
    // gathered per-call list references (grown on demand; no per-call alloc)
    private var gIdx = new Array[Array[Int]](8)
    private var gCs = new Array[Array[Long]](8)
    // Attribute-filter mask, stamp-cleared like `scores`: one width-sized
    // int array reused across ALL of this task's buckets (a fresh
    // Array[Boolean] per bucket was alloc + zeroing the scorer otherwise
    // avoids). beginMask() invalidates every prior allow() in O(1).
    // curMask starts at 1 with the stamps zeroed: a masked score() call
    // that never saw a beginMask() admits NOTHING (round-4 ADVICE: at 0/0
    // the misuse silently degraded to an unfiltered query).
    private val maskStamp = new Array[Int](width)
    private var curMask = 1

    // Per-bucket DENSE CONTRIBUTION COLUMNS (the round-6 batched-scorer
    // optimization): the dense path used to re-scatter every term's
    // (idxs, cs) list into the zeroed scores array PER QUERY — at bench
    // shape (nq=1000, ~77%-density head lists) the same term list was
    // scattered hundreds of times per bucket. Densifying a term ONCE per
    // bucket into a width-sized column (contrib + DenseTag at present
    // docs, 0 elsewhere) extends the existing decode-once-per-bucket
    // sharing one step further; per query the accumulation becomes a
    // sequential column sum (no per-query zero-fill, no index
    // indirection — the loop the JIT can actually vectorize). Long
    // addition is commutative/associative, so per-doc sums — tag bits
    // included — are bit-identical to the scatter path's.
    //
    // Cache keyed by the idxs array's IDENTITY (each bucket decodes
    // fresh arrays); [[beginBucket]] recycles the columns so per-task
    // memory stays O(batch terms · width), capped at [[MaxCols]] columns
    // (beyond it a term falls back to the old inline scatter).
    /** A densified term: the width-sized tagged contribution column plus
      * per-CHUNK contribution maxima (chunk = 2^[[ChunkShift]] slots) —
      * the block-max structure of the dense scan: a query's per-chunk
      * score bound is the Σ over its terms' cmax entries, letting the
      * selection skip whole chunks that provably cannot reach θ. */
    final class DenseCol(val col: Array[Long], val cmax: Array[Long]) {
      var bmax: Long = 0L // bucket-wide max contrib of the term
    }
    private val ChunkShift = 8
    private val nChunks = (width + (1 << ChunkShift) - 1) >> ChunkShift
    private val colCache = new java.util.IdentityHashMap[Array[Int], DenseCol]()
    private val colPool = new scala.collection.mutable.ArrayBuffer[DenseCol]()
    private val MaxCols = 256
    private var gCols = new Array[DenseCol](8)
    // per-bucket contrib-DESC-sorted term lists for the TA pruned walk
    // (packed (contrib << 32) | idx; one sort per term per bucket, shared
    // by every query using the term)
    private val sortCache = new java.util.IdentityHashMap[Array[Int], Array[Long]]()

    /** Recycle the previous bucket's dense columns (call per bucket). */
    def beginBucket(): Unit = {
      val it = colCache.values().iterator()
      while (it.hasNext) colPool += it.next()
      colCache.clear()
      sortCache.clear()
    }

    /** The term's (contrib, idx) pairs packed ASC-sorted (walked from the
      * tail for descending contribs). Packing is safe under the same
      * bound the [[DenseTag]] design already relies on: one contribution
      * is ≤ ~6.1e7 micros < 2^31, and idx < width fits the low 32 bits. */
    private def sortedFor(idxs: Array[Int], cs: Array[Long]): Array[Long] = {
      val got = sortCache.get(idxs)
      if (got != null) return got
      val n = idxs.length
      val packed = new Array[Long](n)
      var i = 0
      while (i < n) {
        packed(i) = (cs(i) << 32) | (idxs(i).toLong & 0xffffffffL)
        i += 1
      }
      java.util.Arrays.sort(packed)
      sortCache.put(idxs, packed)
      packed
    }

    private def colFor(idxs: Array[Int], cs: Array[Long]): DenseCol = {
      val got = colCache.get(idxs)
      if (got != null) return got
      if (colCache.size >= MaxCols) return null
      val e = if (colPool.nonEmpty) colPool.remove(colPool.length - 1)
              else new DenseCol(new Array[Long](width), new Array[Long](nChunks))
      val col = e.col
      val cmax = e.cmax
      java.util.Arrays.fill(col, 0L)
      java.util.Arrays.fill(cmax, 0L)
      var i = 0
      val n = idxs.length
      var bm = 0L
      while (i < n) {
        val ix = idxs(i)
        val c = cs(i)
        col(ix) += c + DenseTag
        val ch = ix >> ChunkShift
        if (c > cmax(ch)) cmax(ch) = c
        if (c > bm) bm = c
        i += 1
      }
      e.bmax = bm
      colCache.put(idxs, e)
      e
    }

    /** Start a new bucket's allowed-offset mask (clears the previous one). */
    def beginMask(): Unit = curMask += 1

    /** Admit local doc offset `ix` to the current mask. */
    def allow(ix: Int): Unit = maskStamp(ix) = curMask

    @inline private def allowed(ix: Int): Boolean = maskStamp(ix) == curMask

    /** termLists: per term of this bucket, (docIdx within bucket, contribMicro).
      * Scores every posting of `queryTerms` present in this bucket into
      * `heap` (doc ids globalized with `base`). Returns the touched-doc
      * count (after pruning — see [[EffortAccs.docsScored]]).
      *
      * Freshness contract: the dense-column and TA-sort caches are keyed
      * by the IDENTITY of each `idxs` array and live until the next
      * [[beginBucket]]. Every bucket must therefore pass freshly decoded
      * arrays — a caller that reused one decode buffer across buckets
      * would be scored against the previous bucket's columns, silently.
      * [[scoreBuckets]], the only caller, allocates new arrays per
      * (bucket, term).
      *
      * `required = 0` is disjunctive (OR) BM25; `required = m > 0` is
      * conjunctive — only docs matched by exactly m lists qualify (the
      * caller passes the query's FULL distinct-term count, so a term with
      * no postings in this bucket excludes every doc of the bucket: a
      * doc lives in exactly one bucket, so per-bucket AND is global AND).
      *
      * `masked = true` is an attribute filter ([[Attrs]]): only local doc
      * offsets the caller passed to [[allow]] since the last [[beginMask]]
      * may reach the heap. The mask gates the OFFER, not the
      * accumulation — contributions are summed for all docs (branch-free
      * hot loops stay branch-free) and filtered at the single selection
      * point of each shape; the unfiltered paths run the exact loops they
      * ran before (masked = false ⇒ the pre-filter code). */
    def score(queryTerms: Seq[String],
              termLists: scala.collection.Map[String, (Array[Int], Array[Long])],
              base: Long, heap: QueryHeap, required: Int = 0,
              masked: Boolean = false): Int = {
      var nl = 0
      var total = 0
      if (gIdx.length < queryTerms.size) {
        gIdx = new Array[Array[Int]](queryTerms.size)
        gCs = new Array[Array[Long]](queryTerms.size)
      }
      queryTerms.foreach { t =>
        termLists.get(t) match {
          case Some((idxs, cs)) =>
            gIdx(nl) = idxs; gCs(nl) = cs; nl += 1; total += idxs.length
          case None =>
        }
      }
      if (nl == 0) 0
      else if (required > 0 && nl < required) 0 // conj: a term absent here excludes the whole bucket
      else if (nl == 1 && required <= 1) scoreSingle(gIdx(0), gCs(0), base, heap, masked)
      else if (total >= width) scoreDense(nl, base, heap, required, masked)
      else if (required > 0) scoreSparseConj(nl, base, heap, required, masked)
      else scoreSparse(nl, base, heap, masked)
    }

    /** One list: the list IS the score column — stream it into the heap.
      * Lists are docId-ascending, so the tight θ floor applies (see
      * [[QueryHeap.tightFloorFor]]): with a full heap strictly below this
      * bucket, acceptance is the single compare `contrib > kth`. */
    private def scoreSingle(idxs: Array[Int], cs: Array[Long],
                            base: Long, heap: QueryHeap,
                            masked: Boolean): Int = {
      var i = 0
      val n = idxs.length
      if (heap.tightFloorFor(base)) {
        // TA pruned walk, single-list case: only docs with contrib > θ
        // can be accepted (pruned ones have s ≤ θ_entry — same exactness
        // argument as the multi-term walk in scoreDense); offers go
        // through the FULL heap insert, exact in any order. The sorted
        // walk is sequential over the packed array, so unlike the
        // multi-term case no random column access is involved and no
        // hybrid gate is needed — the walk never visits more entries
        // than the plain stream.
        val th = heap.kth
        val packed = sortedFor(idxs, cs)
        var j = packed.length - 1
        if (!masked)
          while (j >= 0 && (packed(j) >>> 32) > th) {
            heap.offer(packed(j) >>> 32, base + (packed(j) & 0xffffffffL))
            j -= 1
          }
        else
          while (j >= 0 && (packed(j) >>> 32) > th) {
            val ix = (packed(j) & 0xffffffffL).toInt
            if (allowed(ix)) heap.offer(packed(j) >>> 32, base + ix)
            j -= 1
          }
      } else if (!masked)
        while (i < n) { heap.offer(cs(i), base + idxs(i)); i += 1 }
      else
        while (i < n) {
          if (allowed(idxs(i))) heap.offer(cs(i), base + idxs(i))
          i += 1
        }
      n
    }

    // Tag added once per accumulated posting: keeps every touched slot
    // nonzero and counts matched lists in the high bits. The guard bound
    // comes from the score side, not the count side: one contribution is
    // ≤ ~6.1e7 micros (idf ≤ ln(2N) ≈ 27.6 even at N = 10^12, × 2.2e6),
    // so a per-doc sum stays below bit 42 only while
    // nl ≤ 2^42 / 6.1e7 ≈ 7.2e4 — enforce 2^16 with margin. Above it the
    // sum would bleed into the tag count and corrupt BOTH fields silently.
    private val DenseTag = 1L << 42
    private val DenseMask = DenseTag - 1
    private val MaxTaggedLists = 1 << 16

    private def scoreDense(nl: Int, base: Long, heap: QueryHeap,
                           required: Int = 0,
                           masked: Boolean = false): Int = {
      require(nl <= MaxTaggedLists,
        s"tagged scorer supports <= $MaxTaggedLists lists, got $nl")
      if (gCols.length < nl) gCols = new Array[DenseCol](nl)
      var li = 0
      var allCols = true
      while (li < nl) {
        val c = colFor(gIdx(li), gCs(li))
        gCols(li) = c
        if (c == null) allCols = false
        li += 1
      }
      var cand = 0
      var d = 0
      // Fused column-sum selection for the common shapes (2-3 term
      // unfiltered disjunctive queries — the batched-serving hot loop):
      // no scores-array fill, no scatter, just nl sequential reads per
      // slot. Identical per-doc values (same summands, integer adds).
      if (allCols && required == 0 && !masked && (nl == 2 || nl == 3)) {
        // Offers run in ascending d, so the tight θ floor applies: with a
        // full heap strictly below this bucket the acceptance test is ONE
        // predictable compare per slot — and whole chunks whose per-term
        // maxima sum to ≤ θ are skipped without touching the columns at
        // all (block-max pruning at chunk granularity: the chunk bound
        // Σ cmax dominates every doc's sum in it, and under the tight
        // floor a tie at θ is provably rejected too).
        if (heap.tightFloorFor(base)) {
          var th = heap.kth
          // --- TA pruned walk (Fagin's threshold algorithm, bucket-local):
          // any doc with total score s(d) > θ must satisfy, for EVERY term
          // t, c_t(d) > θ − Σ_{u≠t} bmax_u. Walking ONE term's contrib-
          // sorted list down to that threshold therefore enumerates a
          // SUPERSET of all possibly-accepted docs (choose the max-bmax
          // term so the threshold is as high as possible; thr ≥ 0 also
          // guarantees docs absent from that list — contrib 0 — cannot
          // qualify). Each survivor is offered through the FULL heap
          // insert, which is exact for any offer order; pruned docs have
          // s ≤ θ_entry and can never belong in the final heap, because
          // in-bucket docs only enter it with s > θ-at-accept ≥ θ_entry,
          // so the k-th slot can never end at θ_entry with an in-bucket
          // doc (the tight floor already rejects out-of-heap ties).
          val bm0 = gCols(0).bmax
          val bm1 = gCols(1).bmax
          val bm2 = if (nl == 3) gCols(2).bmax else 0L
          var tStar = if (bm1 > bm0) 1 else 0
          if (nl == 3 && bm2 > (if (tStar == 0) bm0 else bm1)) tStar = 2
          val thr = th - (bm0 + bm1 + bm2 - (if (tStar == 0) bm0 else if (tStar == 1) bm1 else bm2))
          if (thr >= 0) {
            val packed = sortedFor(gIdx(tStar), gCs(tStar))
            // Hybrid gate: count survivors by binary search first; the
            // walk's random column accesses only beat the sequential
            // chunked scan when the surviving set is genuinely small
            // (flat score distributions — like head-only synthetic text —
            // leave most of the list above thr, where the scan wins).
            var lo = 0
            var hi = packed.length
            val key = (thr + 1) << 32 // first packed value with contrib > thr
            while (lo < hi) {
              val mid = (lo + hi) >>> 1
              if (packed(mid) < key) lo = mid + 1 else hi = mid
            }
            val walkLen = packed.length - lo
            if (walkLen.toLong * 4 * nl < width) {
              val c0 = gCols(0).col
              val c1 = gCols(1).col
              val c2 = if (nl == 3) gCols(2).col else null
              var i = packed.length - 1
              while (i >= lo) {
                val d2 = (packed(i) & 0xffffffffL).toInt
                val v = if (nl == 3) c0(d2) + c1(d2) + c2(d2) else c0(d2) + c1(d2)
                cand += 1
                heap.offer(v & DenseMask, base + d2)
                i -= 1
              }
              return cand
            }
          }
          if (nl == 2) {
            val e0 = gCols(0); val e1 = gCols(1)
            val c0 = e0.col; val c1 = e1.col
            val m0 = e0.cmax; val m1 = e1.cmax
            var ch = 0
            while (ch < nChunks) {
              if (m0(ch) + m1(ch) > th) {
                d = ch << ChunkShift
                val end = math.min(d + (1 << ChunkShift), width)
                while (d < end) {
                  val v = c0(d) + c1(d)
                  if (v != 0L) {
                    cand += 1
                    val s = v & DenseMask
                    if (s > th) { heap.offer(s, base + d); th = heap.kth }
                  }
                  d += 1
                }
              }
              ch += 1
            }
          } else {
            val e0 = gCols(0); val e1 = gCols(1); val e2 = gCols(2)
            val c0 = e0.col; val c1 = e1.col; val c2 = e2.col
            val m0 = e0.cmax; val m1 = e1.cmax; val m2 = e2.cmax
            var ch = 0
            while (ch < nChunks) {
              if (m0(ch) + m1(ch) + m2(ch) > th) {
                d = ch << ChunkShift
                val end = math.min(d + (1 << ChunkShift), width)
                while (d < end) {
                  val v = c0(d) + c1(d) + c2(d)
                  if (v != 0L) {
                    cand += 1
                    val s = v & DenseMask
                    if (s > th) { heap.offer(s, base + d); th = heap.kth }
                  }
                  d += 1
                }
              }
              ch += 1
            }
          }
        } else if (nl == 2) {
          val c0 = gCols(0).col; val c1 = gCols(1).col
          while (d < width) {
            val v = c0(d) + c1(d)
            if (v != 0L) { cand += 1; heap.offer(v & DenseMask, base + d) }
            d += 1
          }
        } else {
          val c0 = gCols(0).col; val c1 = gCols(1).col; val c2 = gCols(2).col
          while (d < width) {
            val v = c0(d) + c1(d) + c2(d)
            if (v != 0L) { cand += 1; heap.offer(v & DenseMask, base + d) }
            d += 1
          }
        }
        return cand
      }
      // Generic accumulation into the scores array: cached columns add
      // sequentially (the first one replaces the zero-fill via copy),
      // over-cap terms scatter their lists exactly as before.
      var first = true
      li = 0
      while (li < nl) {
        val col = if (gCols(li) == null) null else gCols(li).col
        if (col != null) {
          if (first) { System.arraycopy(col, 0, scores, 0, width); first = false }
          else {
            var i = 0
            while (i < width) { scores(i) += col(i); i += 1 }
          }
        } else {
          if (first) { java.util.Arrays.fill(scores, 0L); first = false }
          val idxs = gIdx(li)
          val cs = gCs(li)
          var i = 0
          val n = idxs.length
          while (i < n) { scores(idxs(i)) += cs(i) + DenseTag; i += 1 }
        }
        li += 1
      }
      if (first) java.util.Arrays.fill(scores, 0L)
      // four scan variants so the pre-filter loops stay byte-identical
      // (the dense scan is the hottest loop of the engine; a loop-variant
      // mask check must not tax unfiltered batches)
      if (required == 0) {
        if (!masked && heap.tightFloorFor(base)) {
          var th = heap.kth
          while (d < width) {
            val v = scores(d)
            if (v != 0L) {
              cand += 1
              val s = v & DenseMask
              if (s > th) { heap.offer(s, base + d); th = heap.kth }
            }
            d += 1
          }
        } else if (!masked) {
          while (d < width) {
            val v = scores(d)
            if (v != 0L) { cand += 1; heap.offer(v & DenseMask, base + d) }
            d += 1
          }
        } else {
          while (d < width) {
            val v = scores(d)
            if (v != 0L && allowed(d)) { cand += 1; heap.offer(v & DenseMask, base + d) }
            d += 1
          }
        }
      } else {
        // conjunctive: the tag count IS the per-doc matched-list count
        val want = required.toLong << 42
        if (!masked) {
          while (d < width) {
            val v = scores(d)
            if (v != 0L && (v & ~DenseMask) == want) {
              cand += 1; heap.offer(v & DenseMask, base + d)
            }
            d += 1
          }
        } else {
          while (d < width) {
            val v = scores(d)
            if (v != 0L && (v & ~DenseMask) == want && allowed(d)) {
              cand += 1; heap.offer(v & DenseMask, base + d)
            }
            d += 1
          }
        }
      }
      cand
    }

    /** Sparse scatter with the dense path's tag trick, for conjunctive
      * queries below the dense threshold: only docs whose matched-list
      * count equals `required` reach the heap. */
    private def scoreSparseConj(nl: Int, base: Long, heap: QueryHeap,
                                required: Int,
                                masked: Boolean = false): Int = {
      require(nl <= MaxTaggedLists,
        s"tagged scorer supports <= $MaxTaggedLists lists, got $nl")
      curStamp += 1
      var nTouched = 0
      var li = 0
      while (li < nl) {
        val idxs = gIdx(li)
        val cs = gCs(li)
        var i = 0
        val n = idxs.length
        while (i < n) {
          val ix = idxs(i)
          if (stamp(ix) != curStamp) {
            stamp(ix) = curStamp; scores(ix) = cs(i) + DenseTag
            touched(nTouched) = ix; nTouched += 1
          } else scores(ix) += cs(i) + DenseTag
          i += 1
        }
        li += 1
      }
      val want = required.toLong << 42
      var j = 0
      if (!masked) {
        while (j < nTouched) {
          val ix = touched(j)
          val v = scores(ix)
          if ((v & ~DenseMask) == want) heap.offer(v & DenseMask, base + ix)
          j += 1
        }
      } else {
        while (j < nTouched) {
          val ix = touched(j)
          val v = scores(ix)
          if ((v & ~DenseMask) == want && allowed(ix))
            heap.offer(v & DenseMask, base + ix)
          j += 1
        }
      }
      nTouched
    }

    private def scoreSparse(nl: Int, base: Long, heap: QueryHeap,
                            masked: Boolean = false): Int = {
      curStamp += 1
      var nTouched = 0
      var li = 0
      while (li < nl) {
        val idxs = gIdx(li)
        val cs = gCs(li)
        var i = 0
        val n = idxs.length
        while (i < n) {
          val ix = idxs(i)
          if (stamp(ix) != curStamp) {
            stamp(ix) = curStamp; scores(ix) = cs(i); touched(nTouched) = ix; nTouched += 1
          } else scores(ix) += cs(i)
          i += 1
        }
        li += 1
      }
      var j = 0
      if (!masked) {
        while (j < nTouched) {
          val ix = touched(j)
          heap.offer(scores(ix), base + ix)
          j += 1
        }
      } else {
        while (j < nTouched) {
          val ix = touched(j)
          if (allowed(ix)) heap.offer(scores(ix), base + ix)
          j += 1
        }
      }
      nTouched
    }
  }

  /** Restrict postings to the batch's terms. Small batches use `isin`
    * (literal pushdown → parquet row-group skipping on the term-sorted
    * files); large batches (thousands of distinct terms — an `isin` of
    * that size bloats the plan and the pushed filter) use a broadcast
    * left-semi join, which Catalyst executes as a BroadcastHashJoin with
    * runtime (DPP-style) filtering. */
  def whereTerms(postings: Dataset[PostingRow], terms: Seq[String]): Dataset[PostingRow] = {
    val spark = postings.sparkSession
    import spark.implicits._
    if (terms.size <= 128) postings.where($"term".isin(terms: _*))
    else {
      val t = terms.toDF("term")
      postings.join(broadcast(t), Seq("term"), "left_semi").as[PostingRow]
    }
  }

  /** The batch's posting restriction: scoring terms + explicit filter
    * terms via [[whereTerms]], plus — for a range predicate — the attr's
    * in-range virtual lists (the range rows are disjoint from both by the
    * filter-marker prefix, so the union never duplicates). */
  def restrictToPlan(postings: Dataset[PostingRow], terms: Seq[String],
                     plan: Plan): Dataset[PostingRow] = {
    val base = whereTerms(postings, terms ++ plan.filterTerms)
    plan.filterRange match {
      case Some((a, lo, hi)) =>
        base.union(postings.where(Attrs.rangeTermCond(a, lo, hi)))
      case None => base
    }
  }

  /** Per-task materialization cap for the per-query grouping below: a
    * query's group buffers ALL posting rows of its terms in one task, so a
    * head-heavy batch must not take that path (round-3 VERDICT: a query
    * containing "the" at 100× scale OOMs one executor). Batches whose
    * worst query exceeds this many candidate postings re-route through
    * [[rebucketByRange]] + [[runDocPartitioned]] — rank-identical (both
    * paths are fuzz-proven against the oracle), bounded per task. */
  val MaxGroupPostings: Long = 1L << 20

  /** Run the batch over a postings Dataset (in-memory or disk-backed).
    * Emits (query_id, rank, doc_id, score_micro), ordered.
    *
    * Guard (the reference's `TopKId` never concentrates one query's
    * candidates in one thread, `src/index_ivfpq.cpp:239-295`): one tiny
    * vocab-of-the-batch agg sizes each query's candidate posting mass; if
    * any query exceeds `maxGroupPostings`, the batch is served through the
    * docId-range re-bucket + shared-contribution TAAT path instead, where
    * per-task memory is bounded by the range width — the same fallback
    * [[runOnHandle]] uses when partition pruning is abandoned. */
  def run(spark: SparkSession, postings: Dataset[PostingRow], plan: Plan,
          effort: Option[EffortAccs] = None,
          maxGroupPostings: Long = MaxGroupPostings): DataFrame = {
    import spark.implicits._
    val terms = plan.termToQueries.keys.toSeq
    val filtered = restrictToPlan(postings, terms, plan)
    // conjunctive and attr-filtered batches always take the doc-partitioned
    // TAAT path: AND evaluation is a per-doc intersection, which the bucket
    // scorer does natively (per-doc matched-list count), and the attr mask
    // is a per-bucket structure only that scorer holds; the per-query WAND
    // grouping below has neither mode. (Filtered callers must have unioned
    // the virtual filter lists into `postings` — [[runOnHandle]] does.)
    // Checked BEFORE the termN sizing job — that aggregation re-evaluates
    // the (possibly unpersisted) postings pipeline, and its result would
    // be unused here.
    def rerouted(): DataFrame = {
      val width = if (plan.bucketWidth > 0) plan.bucketWidth
                  else 4096L // in-memory postings carry no geometry; any positive width is rank-safe
      runDocPartitioned(spark,
        rebucketByRange(filtered, width, Codec.BlockSize),
        plan.copy(bucketWidth = width), effort, preFiltered = true)
    }
    if (plan.conjunctive || plan.filterActive) return rerouted()
    // Guard sizing: a term's total posting count IS its df, which the plan
    // already carries from the stats table — driver-side arithmetic, no
    // extra job (the aggregation re-evaluated the possibly-unpersisted
    // postings pipeline once per batch, doubling the in-memory contract
    // queries). When `postings` is a pruned SUBSET, df is a safe upper
    // bound: the guard may reroute early, never under-size. Hand-built
    // plans without termDf keep the sizing job.
    val termN: Map[String, Long] =
      if (plan.termDf.nonEmpty) plan.termDf
      else filtered.groupBy($"term").agg(sum($"n").as("tot"))
        .as[(String, Long)].collect().toMap
    val worstQuery = plan.queryTermSets.values
      .map(_.iterator.map(termN.getOrElse(_, 0L)).sum)
      .maxOption.getOrElse(0L)
    if (worstQuery > maxGroupPostings) return rerouted()
    val bc = spark.sparkContext.broadcast(plan)
    val hits = filtered
      .flatMap { row =>
        val p = bc.value
        p.termToQueries.getOrElse(row.term, Nil).map(qid => (qid, row))
      }
      .groupByKey(_._1)
      .flatMapGroups { (qid: Int, it: Iterator[(Int, PostingRow)]) =>
        val p = bc.value
        val lists = it.map(_._2).toSeq.groupBy(_.term)
          .map { case (t, rows) => t -> (p.termIdf(t), rows) }
        Wand.topk(qid, lists, p.avgdl, p.k,
          effortOut = e => effort.foreach(_.sink(e)))
      }
    // nq·k bounded rows: a driver sort, where an orderBy would cost a
    // range-sample job plus a sort stage
    localHits(spark, hits.collect().sortBy(h => (h.query_id, h.rank)).toSeq)
  }

  /** Candidate (term, bucket) pairs for partition pruning (phase-1
    * routing; reference analog: the `book` of clusters to load, S12).
    *
    * Routing derives from `termMaxBucket` — the PERSISTED max docId
    * bucket per term (stats/terms.max_bucket, aggregated from the built
    * segments) — NOT from re-deriving head-ness via df > headDf. The two
    * can disagree: the build's salting decision uses a SAMPLED df
    * estimate (Config.headSampleInv), so a term can be salted into
    * buckets > 0 while its exact df is ≤ headDf (or vice versa).
    * max_bucket reflects what the build actually did, so pruning to
    * buckets 0..max_bucket is exact for unsalted terms (max_bucket = 0)
    * and a covering superset for salted ones. */
  def candidatePairs(termMaxBucket: Map[String, Int],
                     queries: Seq[(Int, Seq[String])]): Seq[(String, Int)] =
    queries.flatMap(_._2).distinct.filter(termMaxBucket.contains).flatMap { t =>
      (0 to termMaxBucket(t)).map(b => (t, b))
    }

  /** Partition set for a batch, or None = scan all partitions. A salted
    * head term's buckets hash across ALL partitions once buckets ≫ P
    * (at 10^12 docs a head term has ~10^8 buckets — enumerating them
    * driver-side would itself be the bottleneck), so bucket-heavy batches
    * skip partition pruning and rely on the term predicate's row-group
    * pushdown; rare-term batches keep exact single-partition pruning.
    * The cutoff counts actual pairs (Σ max_bucket+1) without
    * materializing them. */
  def prunedPartIds(spark: SparkSession, meta: IndexBuild.Meta,
                    termMaxBucket: Map[String, Int],
                    queries: Seq[(Int, Seq[String])]): Option[Seq[Int]] = {
    val terms = queries.flatMap(_._2).distinct.filter(termMaxBucket.contains)
    val nPairs = terms.iterator.map(termMaxBucket(_).toLong + 1).sum
    if (nPairs > 4L * meta.num_partitions) None
    else Some(candidatePartIds(spark, meta,
      candidatePairs(termMaxBucket, queries)))
  }

  /** part_id for each candidate pair, computed on the driver with
    * [[IndexBuild.partIdOf]] — the Scala mirror of the build's Catalyst
    * `pmod(xxhash64(term, bucket), P)`, bit-exact parity pinned by
    * EngineSpec — so routing a rare-term batch launches no job. (`spark`
    * is unused.) */
  def candidatePartIds(spark: SparkSession, meta: IndexBuild.Meta,
                       pairs: Seq[(String, Int)]): Seq[Int] =
    pairs.map { case (t, b) => IndexBuild.partIdOf(t, b, meta.num_partitions) }
      .distinct.sorted

  /** Re-bucket posting rows into docId-range buckets (bucket = doc_id /
    * width) so the doc-partitioned batched scorer can serve a TERM-
    * partitioned index. Purpose (round-1 VERDICT): a head-heavy batch on
    * the term-partitioned layout used to concentrate a head term's FULL
    * posting set into one per-query group; after re-bucketing, no task
    * ever materializes more than `width` postings per term.
    *
    * Cost is bounded: salted head-term rows are ALREADY range-confined
    * (pass through, no decode — the common bulk); only rare-term rows
    * (n ≤ headDf by construction) that straddle a range boundary decode,
    * split and re-encode. */
  def rebucketByRange(rows: Dataset[PostingRow], width: Long,
                      blockSize: Int): Dataset[PostingRow] = {
    import rows.sparkSession.implicits._
    rows.flatMap { r =>
      val lo = (r.min_doc / width).toInt
      val hi = (r.blocks.last.max_doc / width).toInt
      if (lo == hi) {
        if (r.bucket == lo) Iterator.single(r)
        else Iterator.single(r.copy(bucket = lo))
      } else {
        // Only range-STRADDLING rows decode here — normally unsalted
        // (bucket 0) rows, whose n is the term's df. The build's salting
        // decision is a SAMPLED df estimate, and term placement can
        // correlate with doc_id (ADVICE round 2: a term living only in
        // docs outside the 1/headSampleInv sample reads df=0 and stays
        // unsalted at ANY true df) — so this path must not assume n is
        // small. It streams: decode ONE block at a time (blocks are
        // docId-sorted) and emit each completed docId-range slice as soon
        // as the stream crosses its boundary. Peak memory is
        // O(blockSize + postings of one range) — bounded by max(blockSize,
        // width) — instead of three O(n) arrays, and the output rows are
        // consumed lazily by the shuffle writer (flatMap iterator).
        val blockIt = r.blocks.iterator
        val pendD = new scala.collection.mutable.ArrayBuffer[Long]
        val pendT = new scala.collection.mutable.ArrayBuffer[Int]
        val pendL = new scala.collection.mutable.ArrayBuffer[Int]
        var curBucket = -1L
        def flushPending(): PostingRow = {
          val ds = pendD.toArray; val tfs = pendT.toArray; val dls = pendL.toArray
          pendD.clear(); pendT.clear(); pendL.clear()
          var cf = 0L; var i = 0
          while (i < tfs.length) { cf += tfs(i); i += 1 }
          PostingRow(r.part_id, r.term, (ds(0) / width).toInt, ds.length.toLong,
            cf, ds(0), Codec.encodeBlocks(ds, tfs, dls, blockSize))
        }
        new Iterator[PostingRow] {
          private val queue = scala.collection.mutable.Queue.empty[PostingRow]
          private def fill(): Unit = {
            while (queue.isEmpty && blockIt.hasNext) {
              val (d, t, l) = Codec.decodeBlock(blockIt.next())
              var i = 0
              while (i < d.length) {
                val b = d(i) / width
                if (pendD.nonEmpty && b != curBucket) queue += flushPending()
                curBucket = b
                pendD += d(i); pendT += t(i); pendL += l(i)
                i += 1
              }
            }
            if (queue.isEmpty && !blockIt.hasNext && pendD.nonEmpty)
              queue += flushPending()
          }
          override def hasNext: Boolean = { fill(); queue.nonEmpty }
          override def next(): PostingRow = { fill(); queue.dequeue() }
        }
      }
    }
  }

  /** Batched query over a DOC-partitioned layout read from `postings`
    * (disk segments, or re-bucketed term-partitioned rows): every task holds
    * ALL terms of its docId ranges, so it evaluates EVERY query of the batch
    * against its partition once (zero posting duplication — unlike the
    * per-query grouping of [[run]], which ships each head-term row to every
    * query using it). A cached handle runs the same scorer from its packed
    * layout instead ([[runPacked]]). Rank-identity: per-bucket doc sets are
    * disjoint, and top-k of a disjoint union = top-k of per-part top-k's
    * under the frozen total order. */
  def runDocPartitioned(spark: SparkSession, postings: Dataset[PostingRow],
                        plan: Plan, effort: Option[EffortAccs] = None,
                        preFiltered: Boolean = false): DataFrame = {
    import spark.implicits._
    require(plan.bucketWidth > 0, "doc-partitioned plan needs bucketWidth from meta")
    val bc = spark.sparkContext.broadcast(plan)
    // preFiltered: caller already restricted to the batch's terms (the
    // head-heavy rebucket path) — don't plan a second semi-join stage.
    // An attr-filtered batch also keeps its virtual filter lists.
    val filtered = if (preFiltered) postings
                   else restrictToPlan(postings, plan.termToQueries.keys.toSeq, plan)
    // The pruned posting set is compact parquet — a plain scan packs it
    // into very few input splits (maxPartitionBytes), serializing the
    // scoring work. Spread buckets across the cluster (and co-locate each
    // bucket's rows, which the scorer needs); the shuffle moves only the
    // pruned, compressed lists.
    val partials = filtered.repartition($"bucket")
      .mapPartitions(rows => scoreBuckets(bc.value, rows, effort))
    mergePartials(spark, partials, plan, effort)
  }

  /** One batch over a cached handle's packed serving layout
    * ([[openIndex]]): ONE job and no shuffle. Each task looks up only the
    * batch's terms — and, when filtered, the requested filter lists — in
    * its partition's [[ServingPart]] directory and feeds the rows to
    * [[scoreBuckets]]. The layout was co-located by bucket when it was
    * filled, so every bucket the task sees arrives whole. */
  def runPacked(spark: SparkSession, served: Dataset[ServingPart], plan: Plan,
                effort: Option[EffortAccs] = None): DataFrame = {
    import spark.implicits._
    require(plan.bucketWidth > 0, "doc-partitioned plan needs bucketWidth from meta")
    // broadcast, not captured in the closure: tasks then read the plan
    // once per executor (in local mode they share the driver's object)
    // instead of each deserializing its own copy
    val bc = spark.sparkContext.broadcast(plan)
    val partials = served.mapPartitions { parts =>
      val p = bc.value
      val wantFilter: String => Boolean =
        if (p.filterActive) p.isRequestedFilter else _ => false
      scoreBuckets(p, parts.flatMap(_.lookup(p.termToQueries.keys, wantFilter)), effort)
    }
    mergePartials(spark, partials, plan, effort)
  }

  /** The batched scorer of one partition, shared by every doc-partitioned
    * path: group the rows (postings, plus the plan's filter lists) by
    * bucket and term, then score every query of the batch over each bucket
    * with one [[BucketTaat]], carrying per-query heaps across buckets.
    * `rows` must hold ALL rows of every bucket it touches — per-bucket AND
    * and the filter mask are whole-bucket decisions. Returns the bounded
    * partial top-k of every query seen, as one [[Partials]]. */
  private[graft] def scoreBuckets(p: Plan, rows: Iterator[PostingRow],
                                  effort: Option[EffortAccs]): Iterator[Partials] = {
    val w = p.bucketWidth.toInt
    // bucket -> term -> rows (one row per (term,bucket) normally;
    // merged inputs may contribute several)
    val byBucket = scala.collection.mutable.Map
      .empty[Int, scala.collection.mutable.Map[String, scala.collection.mutable.ArrayBuffer[PostingRow]]]
    rows.foreach { r =>
      byBucket.getOrElseUpdate(r.bucket, scala.collection.mutable.Map.empty)
        .getOrElseUpdate(r.term, scala.collection.mutable.ArrayBuffer.empty) += r
    }
    val taat = new BucketTaat(w, p.k)
    val prof = effort.isDefined
    // Per-task running top-k per query: the threshold CARRIES across
    // this task's buckets, enabling the block-max skip below (phase
    // profiling at 8M docs: TAAT accumulation was 96% of query task
    // time; decode+contrib ~3%). Rank-identity is exact: a bucket is
    // skipped only when its score upper bound is STRICTLY below the
    // query's current k-th score, i.e. when every insert from it
    // would provably no-op under the frozen (score DESC, doc_id ASC)
    // order — the reference's block-max pruning argument
    // (`src/index_ivf.cpp:220-234` partial_sort + threshold).
    val heaps = scala.collection.mutable.HashMap.empty[Int, QueryHeap]
    var decodeNs = 0L; var contribNs = 0L; var scoreNs = 0L
    // ASCENDING bucket order: results are order-independent (the
    // merged top-k set is unique under the frozen total order), but
    // ascending docId ranges make the tight θ floor
    // ([[QueryHeap.tightFloorFor]]) true for every bucket after each
    // query's heap first fills — the earliest (lowest-docId) ties win
    // immediately and every later bucket's ties are provably
    // rejectable with one compare. Also makes task execution
    // deterministic (HashMap order was arbitrary).
    byBucket.toSeq.sortBy(_._1).foreach { case (bucket, termRows) =>
      val base = bucket.toLong * w
      taat.beginBucket() // recycle the previous bucket's dense columns
      // Attribute filter: fold this bucket's virtual filter lists
      // ([[Attrs]] rows riding the same posting stream) into the
      // scorer's stamp-cleared allowed-offset mask — OR across the
      // predicate's values. A filtered plan with NO filter row here
      // means no doc of this bucket matches the predicate: skip the
      // bucket outright.
      val masked = p.filterActive
      var anyAllowed = !masked
      if (masked) {
        taat.beginMask()
        termRows.foreach { case (t, rows) =>
          if (p.isRequestedFilter(t))
            rows.foreach(_.blocks.foreach { b =>
              val (ds, _, _) = Codec.decodeBlock(b)
              var i = 0
              while (i < ds.length) {
                taat.allow((ds(i) - base).toInt)
                i += 1
              }
              anyAllowed ||= ds.length > 0
            })
        }
      }
      if (anyAllowed) {
      // decode each term's postings ONCE; precompute micro-contribs
      // (and the term's max contrib = its block-max bound) ONCE,
      // shared by every query using the term
      var bucketBlocks = 0L
      val maxC = scala.collection.mutable.HashMap.empty[String, Long]
      val termLists: Map[String, (Array[Int], Array[Long])] =
        termRows.iterator.filter(e => !Attrs.isFilterTerm(e._1))
          .map { case (t, rows) =>
          val idf = p.termIdf(t)
          val n = rows.iterator.map(_.n).sum.toInt
          val idxs = new Array[Int](n)
          val cs = new Array[Long](n)
          var o = 0
          var mx = 0L
          rows.sortBy(_.min_doc).foreach { r =>
            bucketBlocks += r.blocks.size
            r.blocks.foreach { b =>
              val t0 = if (prof) System.nanoTime() else 0L
              val (ds, tfs, dls) = Codec.decodeBlock(b)
              val t1 = if (prof) System.nanoTime() else 0L
              var i = 0
              while (i < ds.length) {
                idxs(o) = (ds(i) - base).toInt
                val c = Bm25.contribMicro(idf, tfs(i).toLong, dls(i).toLong, p.avgdl)
                cs(o) = c
                if (c > mx) mx = c
                o += 1; i += 1
              }
              if (prof) { decodeNs += t1 - t0; contribNs += System.nanoTime() - t1 }
            }
          }
          maxC(t) = mx
          t -> (idxs, cs)
        }.toMap
      val queriesHere = termRows.keysIterator
        .flatMap(t => p.termToQueries.getOrElse(t, Nil)).toSet
      // blocksTotal = naive per-query decode cost; blocksDecoded = the
      // actual once-per-bucket decodes — the ratio is the sharing win
      effort.foreach { a =>
        a.blocksTotal.add(bucketBlocks * queriesHere.size)
        a.blocksDecoded.add(bucketBlocks)
      }
      queriesHere.foreach { qid =>
        val heap = heaps.getOrElseUpdate(qid, new QueryHeap(p.k))
        var bound = 0L
        p.queryTermSets(qid).foreach(t => bound += maxC.getOrElse(t, 0L))
        if (heap.n == p.k && bound < heap.kth) {
          effort.foreach(_.bucketsSkipped.add(1L)) // provably fruitless
        } else {
          val t0 = if (prof) System.nanoTime() else 0L
          val req = if (p.conjunctive) p.queryTermSets(qid).size else 0
          val nTouched =
            taat.score(p.queryTermSets(qid), termLists, base, heap, req, masked)
          effort.foreach { a =>
            scoreNs += System.nanoTime() - t0
            a.wandCalls.add(1L); a.docsScored.add(nTouched.toLong)
          }
        }
      }
      } // anyAllowed
    }
    effort.foreach { a =>
      a.decodeNanos.add(decodeNs); a.contribNanos.add(contribNs)
      a.scoreNanos.add(scoreNs)
    }
    // one bounded partial per (task, query) — fewer merge rows than
    // the per-bucket emission this replaces
    val n = heaps.valuesIterator.map(_.n).sum
    val out = Partials(new Array[Int](n), new Array[Long](n), new Array[Long](n))
    var o = 0
    heaps.foreach { case (qid, h) =>
      var i = 0
      while (i < h.n) {
        out.qids(o) = qid; out.docs(o) = h.hDoc(i); out.scores(o) = h.hScore(i)
        o += 1; i += 1
      }
    }
    Iterator.single(out)
  }

  /** One task's partial top-k's in flat primitive arrays (the collect
    * then deserializes three array copies per task, not nq rows of
    * candidate structs): query `qids(i)`'s candidate `docs(i)` with score
    * `scores(i)`, each query's candidates contiguous and in rank order. */
  final case class Partials(qids: Array[Int], docs: Array[Long], scores: Array[Long]) {
    def byQuery: Seq[(Int, Seq[TopK.Cand])] = {
      val out = Vector.newBuilder[(Int, Seq[TopK.Cand])]
      var i = 0
      while (i < qids.length) {
        var j = i
        while (j < qids.length && qids(j) == qids(i)) j += 1
        out += qids(i) -> (i until j).map(x => TopK.Cand(docs(x), scores(x)))
        i = j
      }
      out.result()
    }
  }

  /** Merge the per-task partial top-k's into the batch result. */
  private def mergePartials(spark: SparkSession, partials: Dataset[Partials],
                            plan: Plan, effort: Option[EffortAccs]): DataFrame = {
    import spark.implicits._
    // The partials are BOUNDED: ≤ k cands per (task, query) — at most
    // shufflePartitions·nq·k candidates.
    // When that fits comfortably on the driver, merge there: the
    // distributed alternative is a whole extra shuffle + sort stage whose
    // scheduling latency is pure FIXED cost (~1s), which the fast
    // parallelism point pays 4× more dearly — it was the main structural
    // drag on the measured query scaling efficiency. The merged top-k SET
    // is unique under the frozen total order, so merge order (driver or
    // tree) cannot change results. Above the cap (10^5 tasks at web
    // scale), the distributed treeReduce path serves unchanged.
    val shufP = spark.conf.getOption("spark.sql.shuffle.partitions")
      .map(_.toInt).getOrElse(200)
    val estPartialCands = shufP.toLong * plan.queryTermSets.size * plan.k
    if (estPartialCands <= DriverMergeMaxCands) {
      val collected = partials.collect() // the scoring job itself
      val t0 = System.nanoTime()
      val byQ = scala.collection.mutable.HashMap.empty[Int, Seq[TopK.Cand]]
      collected.foreach(_.byQuery.foreach { case (qid, cands) =>
        byQ(qid) = TopK.mergeTopK(byQ.getOrElse(qid, Vector.empty), cands, plan.k)
      })
      effort.foreach(_.mergeNanos.add(System.nanoTime() - t0))
      val hits = byQ.toSeq.sortBy(_._1).flatMap { case (qid, cands) =>
        cands.zipWithIndex.map { case (c, i) => Hit(qid, i + 1, c.doc_id, c.score_micro) }
      }
      localHits(spark, hits) // already in (query_id, rank) order: no sort job
    } else partials
      .flatMap(_.byQuery)
      .groupByKey(_._1)
      .reduceGroups { (a: (Int, Seq[TopK.Cand]), b: (Int, Seq[TopK.Cand])) =>
        if (effort.isDefined) {
          val t0 = System.nanoTime()
          val m = TopK.mergeTopK(a._2, b._2, plan.k)
          effort.foreach(_.mergeNanos.add(System.nanoTime() - t0))
          (a._1, m)
        } else (a._1, TopK.mergeTopK(a._2, b._2, plan.k))
      }
      .flatMap { case (qid, (_, cands)) =>
        cands.zipWithIndex.map { case (c, i) => Hit(qid, i + 1, c.doc_id, c.score_micro) }
      }
      .toDF()
      .select($"query_id", $"rank", $"doc_id", $"score_micro")
      .orderBy($"query_id", $"rank")
  }


  /** Hits already in (query_id, rank) order as a local DataFrame: reading
    * it back launches no job and sorts nothing. */
  private def localHits(spark: SparkSession, hits: Seq[Hit]): DataFrame = {
    import scala.jdk.CollectionConverters._
    // Rows + schema build the relation in one step (an encoder-built
    // Dataset plus toDF costs the driver about twice as much)
    spark.createDataFrame(
      hits.map(h => Row(h.query_id, h.rank, h.doc_id, h.score_micro)).asJava, HitSchema)
  }

  private val HitSchema = Encoders.product[Hit].schema

  /** Driver-merge ceiling for the batched scorer's final stage: the
    * collect is O(tasks·nq·k) bounded rows (~50 MB at the cap), NOT a
    * distributed-work collect. */
  val DriverMergeMaxCands: Long = 1L << 20

  /** An OPENED index — the reference's LoadIndex analog
    * (`src/index_ivfpq.cpp:326-348`): meta is read once, and the
    * segments/stats scans are ANALYZED once (parquet file listing +
    * schema resolution are driver-side serial work; re-doing them per
    * query batch was ~0.3-0.5 s of the measured ~2 s serial section of
    * the batched query path). Query batches against a handle pay only
    * their own term-stats lookup (memoized) + the scoring job.
    *
    * `served` is the packed serving layout of a doc-partitioned index
    * opened with `cacheServing` — persisted [[ServingPart]] rows, one per
    * serving partition below [[ServingPart.MaxPartBytes]], filled by the
    * first batch — and `attrsCached` says it holds the attr sidecar's
    * virtual filter lists (false for a sidecar written AFTER the open:
    * filtered batches then bypass the cache and read the segments). */
  final case class IndexHandle(dir: String, meta: IndexBuild.Meta,
                               segments: Dataset[PostingRow],
                               stats: DataFrame,
                               served: Option[Dataset[ServingPart]] = None,
                               attrsCached: Boolean = false) {
    /** Per-term (df, max_bucket) memo for the handle's lifetime — index
      * metadata, immutable once the index is open (stats/terms is part
      * of the build's commit), cached for the same reason openIndex
      * caches the serving layout: a serving process replays the same
      * hot query terms batch after batch, and the per-batch stats
      * lookup was a whole (tiny) Spark job. Terms ABSENT from the index
      * are memoized as None too — repeat misses are the common case for
      * out-of-vocabulary query words. Driver memory stays bounded by
      * the distinct terms actually queried (never the vocabulary). */
    private[QueryEngine] val termStatsMemo =
      new java.util.concurrent.ConcurrentHashMap[String, Option[(Long, Int)]]()
    /** Release the cached serving layout (no-op for uncached handles). */
    def close(): Unit = served.foreach(_.unpersist())
  }

  /** Open an index for querying. For a DOC-partitioned index the handle
    * caches a packed serving layout in executor memory (spilling to disk)
    * — the reference's LoadIndex-into-RAM serving shape
    * (`src/index_ivfpq.cpp:326-348`): the segments (plus the attr
    * sidecar's filter lists, when present) are co-located by docId bucket
    * and each partition is packed into a [[ServingPart]] — a term-keyed
    * directory over one byte buffer holding the rows with their compressed
    * blocks as they are. The first batch pays one scan + shuffle to fill
    * it; every later batch is one job that decodes only its own terms'
    * rows ([[runPacked]]). Callers that query once should pass
    * `cacheServing = false`. */
  def openIndex(spark: SparkSession, dir: String,
                cacheServing: Boolean = true): IndexHandle = {
    import spark.implicits._
    val meta = IndexBuild.readMeta(spark, dir)
    val segments = IndexBuild.readSegments(spark, dir)
    val served =
      if (cacheServing && meta.doc_partitioned) {
        // Filter rows bucket like postings and are tiny beside them (one
        // docId per doc per attr vs one posting per token), so filtered
        // batches serve from the same cache.
        val hasAttrs = Attrs.hasAttrs(spark, dir)
        val withAttrs =
          if (hasAttrs) segments.union(Attrs.allFilterRows(spark, dir))
          else segments
        (Some(withAttrs.repartition($"bucket").mapPartitions(ServingPart.pack(_))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)),
          hasAttrs)
      } else (None, false)
    IndexHandle(dir, meta, segments, IndexBuild.readTermStats(spark, dir),
      served._1, attrsCached = served._2)
  }

  def runOnIndex(spark: SparkSession, dir: String,
                 queries: Seq[(Int, Seq[String])] = QuerySet.queryTerms,
                 k: Int = QuerySet.K,
                 effort: Option[EffortAccs] = None,
                 conjunctive: Boolean = false,
                 filter: Option[(String, Seq[String])] = None,
                 rangeFilter: Option[(String, Double, Double)] = None): DataFrame =
    // query-once entry point: a serving cache would never be reused (and
    // never released) — open uncached
    runOnHandle(spark, openIndex(spark, dir, cacheServing = false),
      queries, k, effort, conjunctive, filter, rangeFilter)

  /** One query batch against an opened index (load once, query many —
    * the reference's test-harness shape).
    *
    * `filter = Some((attr, values))` restricts results to docs whose
    * persisted attribute (an [[Attrs]] sidecar next to the index) is IN
    * `values` — BM25 stats stay corpus-global, only candidacy changes.
    * The predicate's virtual posting lists join the batch's stream: looked
    * up in the packed serving layout when the handle holds one (openIndex
    * folds the sidecar in), else unioned before the bucket co-shuffle. */
  def runOnHandle(spark: SparkSession, h: IndexHandle,
                  queries: Seq[(Int, Seq[String])] = QuerySet.queryTerms,
                  k: Int = QuerySet.K,
                  effort: Option[EffortAccs] = None,
                  conjunctive: Boolean = false,
                  filter: Option[(String, Seq[String])] = None,
                  rangeFilter: Option[(String, Double, Double)] = None): DataFrame = {
    import spark.implicits._
    require(filter.isEmpty || rangeFilter.isEmpty,
      "one attribute predicate per batch: pass filter (IN) or rangeFilter " +
        "(BETWEEN), not both")
    // `attr IN ()` matches NOTHING (Oracle.topkFiltered's zero-arg isin is
    // identically false) — it must not degrade to "no filter", which is
    // what empty filterTerms would silently mean downstream. An empty
    // RANGE (lo > hi) needs no special case: it selects zero virtual
    // lists, so every bucket folds an empty mask and admits nothing.
    if (filter.exists(_._2.isEmpty)) return localHits(spark, Nil)
    val meta = h.meta
    val qTerms = queries.flatMap(_._2).distinct
    // df + salting lookup restricted to query terms — filter pushed to
    // the parquet scan of the (vocab-sized) stats table; results memoized
    // on the handle (immutable index metadata), so a batch whose terms
    // were all seen before skips the lookup job entirely.
    val missing = qTerms.filterNot(h.termStatsMemo.containsKey)
    if (missing.nonEmpty) {
      val found = h.stats
        .where($"term".isin(missing: _*))
        .select($"term", $"df", $"max_bucket")
        .as[(String, Long, Int)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
      missing.foreach(t => h.termStatsMemo.put(t, found.get(t)))
    }
    val memod = qTerms.flatMap(t =>
      h.termStatsMemo.get(t).map(v => t -> v))
    val termDf = memod.map { case (t, v) => (t, v._1) }.toMap
    val termMaxBucket = memod.map { case (t, v) => (t, v._2) }.toMap
    val cs = CorpusStats(meta.n_docs, meta.n_tokens, meta.max_doc_id)
    val fTerms = filter.toSeq.flatMap { case (a, vs) => vs.map(Attrs.filterTerm(a, _)) }
    val p = plan(cs, termDf, queries, k, conjunctive)
      .copy(bucketWidth = meta.bucket_width, filterTerms = fTerms,
        filterRange = rangeFilter)
    // No query term is in the index (out-of-vocabulary words; AND queries
    // missing a term are dropped by plan): nothing can score, so answer
    // without a job.
    if (p.termToQueries.isEmpty) return localHits(spark, Nil)
    val filterOn = p.filterActive
    def fRows(): Dataset[PostingRow] = (filter, rangeFilter) match {
      case (Some((a, vs)), _) => Attrs.filterRows(spark, h.dir, a, vs)
      case (_, Some((a, lo, hi))) => Attrs.rangeFilterRows(spark, h.dir, a, lo, hi)
      case _ => throw new IllegalStateException("fRows without a filter")
    }
    if (meta.doc_partitioned)
      h.served match {
        case Some(packed) if !filterOn || h.attrsCached =>
          // filtered batches may use the cache only if it carries the
          // attr sidecar (openIndex folds it in when present at open
          // time) — otherwise their buckets would all look filter-empty
          runPacked(spark, packed, p, effort)
        case _ =>
          val base = if (!filterOn) h.segments else h.segments.union(fRows())
          runDocPartitioned(spark, base, p, effort)
      }
    else if (filterOn) {
      // term-partitioned + attr filter: the mask is a doc-range structure,
      // so serve through the re-bucketed TAAT path with the filter lists
      // riding the same shuffle (they are already range-bucketed; the
      // rebucket passes them through untouched).
      val pruned = whereTerms(h.segments, termDf.keys.toSeq)
      runDocPartitioned(spark,
        rebucketByRange(pruned, meta.bucket_width, meta.block_size)
          .union(fRows()),
        p, effort, preFiltered = true)
    } else {
      prunedPartIds(spark, meta, termMaxBucket, queries) match {
        // few candidate pairs → exact partition pruning + per-query WAND
        // (the rare-term fast path: reads 1..few partitions)
        case Some(partIds) =>
          run(spark, h.segments.where($"part_id".isin(partIds: _*)), p, effort)
        // head-heavy batch: pruning is ineffective AND the per-query
        // grouping would pull a head term's whole posting set into one
        // task. Re-bucket the (term-filtered) rows into docId ranges and
        // serve through the zero-duplication batched TAAT scorer — the
        // same plan shape the doc-partitioned layout gets natively.
        case None =>
          val pruned = whereTerms(h.segments, termDf.keys.toSeq)
          runDocPartitioned(spark,
            rebucketByRange(pruned, meta.bucket_width, meta.block_size),
            p, effort, preFiltered = true)
      }
    }
  }
}
