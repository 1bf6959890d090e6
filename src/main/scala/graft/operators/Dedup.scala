package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._

/** Deduplication suite for document corpora (north-star LLM-pipeline ops,
  * SURVEY.md §2k). Every variant is expressed as a declarative plan —
  * partial aggregation, banded LSH self-joins on small bucket keys, no
  * driver-side collection — so each scales to the 100 TB corpus case:
  *
  *  - exact:      one hash-shuffle on a 16-byte digest key.
  *  - minHashLsh: map-side signature, explode to (band, bandHash) keys,
  *                self-join only within buckets (candidate pairs ≪ n²),
  *                exact-Jaccard rerank on the candidates.
  *  - simHash:    map-side 64-bit sketch, 4×16-bit band buckets, Hamming
  *                rerank. Cheapest near-dup pass.
  *  - ngramJaccard: exact char-n-gram Jaccard on candidate pairs
  *                (bounded input — rerank stage, not first pass).
  *  - embedding:  cosine near-dup via LSH over random hyperplane signs.
  */
object Dedup {

  /** Capacity-guarded LSH bucket self-join: candidate pairs from a
    * banded table, with per-bucket work capped at O(size · cap) instead
    * of O(size²).
    *
    * Degenerate buckets are the LSH failure mode at corpus scale: a
    * boilerplate-heavy corpus puts 10⁶⁺ documents in one band bucket and
    * the self-join goes quadratic. The guard: per bucket, members are
    * hash-split into `ceil(size / cap)` blocks (map-side `pmod(xxhash64
    * (id), nblocks)` after a tiny count join — no per-bucket sort, no
    * single-task straggler), and pairs are emitted only within a block
    * and between CONSECUTIVE blocks. Block i ↔ i+1 chaining keeps the
    * bucket connected as long as no block is empty, so [[clusters]]'
    * transitive closure still merges a giant duplicate group into one
    * component even though only O(size · cap) of its O(size²) pairs
    * were materialized. An empty block would break the chain; with
    * blocks averaging `cap` members that probability is ≤ nblocks ·
    * e^(−cap) — vanishing for the production caps (e^−256 ≈ 10⁻¹¹²,
    * even cap=32 gives ≤10⁻¹⁴ per hot bucket); caps below ~16 are for
    * tests only. Buckets at or under `cap` are completely unaffected
    * (one block = the full exact self-join). `cap <= 0` disables the
    * guard. Note the guard runs one small eager pre-job (bucket-key
    * counts, map-side combined) to decide whether any bucket exceeds
    * the cap; when none does, the plan is the plain equi-join.
    *
    * @param banded  one row per (member, bucket), with an `id` column
    * @param keys    the bucket key columns
    * @param payload extra columns to carry onto both sides of each pair
    *                (emitted as `<name>_a` / `<name>_b`)
    * @param dedupPairs run the final pair `distinct()`. REQUIRED when
    *                a member can appear under several bucket keys
    *                (multi-band LSH — the same pair surfaces in every
    *                shared band); callers whose members hold exactly
    *                ONE bucket each (SemDeDup's k-means cells) pass
    *                false and skip a pair-table-wide shuffle whose
    *                rows carry both payloads (for embeddings, the
    *                heaviest exchange in the whole plan)
    */
  def cappedBucketJoin(banded0: DataFrame, keys: Seq[String],
      cap: Int, payload: Seq[String] = Nil,
      dedupPairs: Boolean = true): DataFrame = {
    // Materialize the banded/bucketed input ONCE (lazy local
    // checkpoint): it is consumed up to three times — the bucket-size
    // pre-job below plus both sides of the self-join — and each
    // consumer would otherwise re-execute the whole signature pipeline
    // (minhash/simhash/plane projection over the corpus). At bench
    // scale AQE turns the self-join into a broadcast join, which
    // defeats exchange reuse and made the banding run 3x per query
    // (measured: q_dedup_near planned 2 full minhash subtrees + the
    // pre-job). The checkpoint is the narrow (id, keys, payload)
    // projection — the same bytes the join shuffles anyway.
    val banded = banded0.transform(graft.Materialize.barrier)
    def maybeDistinct(df: DataFrame): DataFrame =
      if (dedupPairs) df.distinct() else df
    // emit with id_a < id_b regardless of which join side was smaller
    def pairCols: Seq[org.apache.spark.sql.Column] = {
      val flip = col("a.id") > col("b.id")
      def side(p: String, wantA: Boolean) = {
        val (hi, lo) = (col(s"a.$p"), col(s"b.$p"))
        if (wantA) when(flip, lo).otherwise(hi) else when(flip, hi).otherwise(lo)
      }
      Seq(side("id", wantA = true).as("id_a"),
        side("id", wantA = false).as("id_b")) ++
        payload.flatMap(p => Seq(side(p, wantA = true).as(s"${p}_a"),
          side(p, wantA = false).as(s"${p}_b")))
    }
    val keyEq = keys.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _)
    def plainJoin: DataFrame = maybeDistinct(
      banded.as("a").join(banded.as("b"), keyEq && col("a.id") < col("b.id"))
        .select(pairCols: _*))
    if (cap <= 0) {
      plainJoin
    } else {
      val sizes = banded.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("__sz"))
      // One cheap pre-job (bucket keys only, map-side combined) decides
      // whether the guard machinery is needed at all. The common cold
      // case — no bucket over the cap — collapses back to the plain
      // equi-join, with zero sizes-join and zero probe inflation.
      val maxSz = sizes.agg(max(col("__sz"))).head() match {
        case r if r.isNullAt(0) => 0L
        case r                  => r.getLong(0)
      }
      if (maxSz <= cap) {
        plainJoin
      } else {
        val blocked = banded.join(sizes, keys)
          .withColumn("__nb",
            greatest(lit(1L), ceil(col("__sz").cast("double") / cap)))
          .withColumn("__blk", pmod(xxhash64(col("id")), col("__nb")))
          .drop("__sz")
        // ONE equi-join covers both block patterns: the probe side emits
        // each row under its own block AND — only when a next block
        // exists (__blk < __nb - 1, i.e. the bucket actually split) —
        // the adjacent block, so same-block pairs and the chain that
        // keeps a bucket's transitive closure connected come out of a
        // single shuffle. Rows in buckets at or under the cap (__nb = 1)
        // are not inflated, so the shuffle volume is ~1× plus only the
        // hot buckets' chaining rows.
        val a = blocked
          .withColumn("__orig", col("__blk"))
          .withColumn("__probe",
            explode(when(col("__blk") < col("__nb") - 1,
                array(col("__blk"), col("__blk") + 1))
              .otherwise(array(col("__blk")))))
          .drop("__nb")
          .as("a")
        val b = blocked.drop("__nb").as("b")
        maybeDistinct(
          a.join(b, keyEq && col("a.__probe") === col("b.__blk") &&
              col("a.id") =!= col("b.id"))
            // within a block, emit each unordered pair once; across
            // adjacent blocks both orders normalize in pairCols
            .filter(col("a.__orig") =!= col("b.__blk") ||
              col("a.id") < col("b.id"))
            .select(pairCols: _*))
      }
    }
  }

  /** Exact dedup: md5 of the text; keeps the lowest id per group.
    * A single hash aggregation — no window, no second shuffle. */
  def exact(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs
      .groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** Exact dedup after normalization (casefold + whitespace collapse +
    * trim) — catches trivially-reformatted duplicates. */
  def exactNormalized(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs
      .groupBy(md5(trim(regexp_replace(lower(col(textCol)), "\\s+", " ")))
        .as("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** MinHash + LSH banding: returns candidate near-dup pairs
    * (id_a < id_b) with their exact n-gram Jaccard for rerank.
    *
    * @param numHashes signature length k
    * @param bands     LSH bands (rows per band = k / bands); a pair
    *                  becomes a candidate if ANY band hash matches.
    */
  def minHashLsh(docs: DataFrame, numHashes: Int = 64, bands: Int = 16,
      shingleSize: Int = 3, minJaccard: Double = 0.5,
      idCol: String = "doc_id", textCol: String = "text",
      bucketCap: Int = 256): DataFrame = {
    require(numHashes % bands == 0)
    // Candidate generation shuffles ONLY (id, band, band_hash) — texts
    // stay out of the LSH join so the shuffled bytes are O(ids), not
    // O(corpus). Texts are joined back just for the surviving pairs.
    val banded =
      bandKeys(docs, numHashes, bands, shingleSize, idCol, textCol)
    // capacity-guarded: a degenerate bucket (boilerplate corpus) yields
    // O(size · bucketCap) candidates, not O(size²); the rerank +
    // [[clusters]] closure recovers the full duplicate group
    val candidates =
      cappedBucketJoin(banded, Seq("band", "band_hash"), bucketCap)
    val txt = docs.select(col(idCol).as("tid"), col(textCol).as("txt"))
    candidates
      .join(txt, col("id_a") === col("tid")).withColumnRenamed("txt", "txt_a")
      .drop("tid")
      .join(txt, col("id_b") === col("tid")).withColumnRenamed("txt", "txt_b")
      .drop("tid")
      .withColumn("jaccard", ngram_jaccard(col("txt_a"), col("txt_b"), shingleSize))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** `(id, band, band_hash)` LSH band keys — the building block
    * [[minHashLsh]] self-joins, and the PERSISTED INDEX ASSET of the
    * incremental path: at 100 TB the corpus's band keys are written
    * once and appended per ingest batch, so each batch's dedup cost is
    * O(new), never a full-corpus re-shuffle. Band `j` is the hash of
    * signature slice `[j*rows, (j+1)*rows)`. */
  def bandKeys(docs: DataFrame, numHashes: Int = 64, bands: Int = 16,
      shingleSize: Int = 3, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(numHashes % bands == 0)
    val rows = numHashes / bands
    val sig = docs.select(col(idCol).as("id"),
      minhash(col(textCol), numHashes, shingleSize).as("sig"))
    sig.select(col("id"), col("sig"),
      posexplode(sequence(lit(0), lit(bands - 1))).as(Seq("pos", "band")))
      .withColumn("band_hash",
        hash(col("band"), slice(col("sig"), col("band") * rows + 1, lit(rows))))
      .select(col("id"), col("band"), col("band_hash"))
  }

  /** Deterministic capacity cap for a band index: at most `cap`
    * members per (band, band_hash) bucket — the lowest
    * (xxhash64(id), id) members represent the bucket. Hash order (not
    * arrival order) makes the capped index a pure function of the id
    * SET: extending an index with a new batch and re-capping equals
    * capping a from-scratch build, so incremental maintenance never
    * drifts from the batch answer. A monster boilerplate bucket costs
    * any probe O(cap), and the rerank + transitive-closure clustering
    * recover the full duplicate group — the same capacity trade
    * [[cappedBucketJoin]] makes for the batch path. */
  def capBandIndex(bandKeys: DataFrame, cap: Int): DataFrame = {
    require(cap >= 1, s"capBandIndex: cap must be >= 1, got $cap")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("band"), col("band_hash"))
      .orderBy(xxhash64(col("id")), col("id"))
    bandKeys.withColumn("__rnk", row_number().over(w))
      .filter(col("__rnk") <= cap).drop("__rnk")
  }

  /** Incremental MinHash near-dup: candidate pairs touch at least one
    * NEW document — new band keys probe the capped index of the whole
    * corpus (existing ∪ new), so per ingest batch the shuffled probe
    * volume is O(new · bands), not O(corpus). Returns the
    * [[minHashLsh]] contract `(id_a, id_b, jaccard)` restricted to
    * pairs with a new member; old–old pairs were the PREVIOUS
    * batches' answers and are never regenerated.
    *
    * The probe side is UNCAPPED (every new doc probes, even one whose
    * own index entry was capped out), the index side capped — recall
    * on degenerate buckets is bounded exactly as in the batch path.
    *
    * @param isNew predicate over `corpus` rows marking the new batch
    */
  def minHashLshIncremental(corpus: DataFrame, isNew: Column,
      numHashes: Int = 64, bands: Int = 16, shingleSize: Int = 3,
      minJaccard: Double = 0.5, idCol: String = "doc_id",
      textCol: String = "text", indexCap: Int = 256): DataFrame = {
    // in production the existing entries come from the persisted index
    // table and only the new batch's signatures are computed here; the
    // from-scratch build below is the same dataflow (capBandIndex is
    // arrival-order-independent) without the storage dependency
    val idx = capBandIndex(
      bandKeys(corpus, numHashes, bands, shingleSize, idCol, textCol),
      indexCap)
    val probe = bandKeys(corpus.filter(isNew), numHashes, bands,
      shingleSize, idCol, textCol)
    val cand = probe.as("n").join(idx.as("x"),
        col("n.band") === col("x.band") &&
        col("n.band_hash") === col("x.band_hash") &&
        col("n.id") =!= col("x.id"))
      .select(least(col("n.id"), col("x.id")).as("id_a"),
        greatest(col("n.id"), col("x.id")).as("id_b"))
      .distinct()
    val txt = corpus.select(col(idCol).as("tid"), col(textCol).as("txt"))
    cand
      .join(txt, col("id_a") === col("tid")).withColumnRenamed("txt", "txt_a")
      .drop("tid")
      .join(txt, col("id_b") === col("tid")).withColumnRenamed("txt", "txt_b")
      .drop("tid")
      .withColumn("jaccard", ngram_jaccard(col("txt_a"), col("txt_b"), shingleSize))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** SimHash near-dup: 64-bit sketch, banded into 4×16-bit buckets
    * (pigeonhole: hamming ≤ 3 over 64 bits ⇒ at least one identical
    * 16-bit band); candidates within `maxHamming` bits survive.
    *
    * A 16-bit band admits only 65,536 distinct buckets, so at ≥10⁸ docs
    * the per-band buckets average ≥1,500 members even when uniform —
    * per-bucket pair generation is inherently quadratic-prone. The
    * `bucketCap` guard bounds it to O(members · cap) per bucket; the
    * Hamming rerank + [[clusters]] closure recover the duplicate groups
    * from the capped pair set. */
  def simHashDups(docs: DataFrame, maxHamming: Int = 3,
      idCol: String = "doc_id", textCol: String = "text",
      bucketCap: Int = 256): DataFrame = {
    val sig = docs.select(col(idCol).as("id"),
      simhash(col(textCol)).as("sh"))
    val banded = sig.select(col("id"), col("sh"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("sh"), b * 16).bitwiseAND(lit(0xFFFFL)).as("bh"))): _*))
        .as("bb"))
      .select(col("id"), col("sh"), col("bb.band"), col("bb.bh"))
    cappedBucketJoin(banded, Seq("band", "bh"), bucketCap,
        payload = Seq("sh"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Plane count sized to the corpus: enough sign bits that a UNIFORM
    * corpus averages ≲`targetBucket` vectors per bucket (near-dup mass
    * still concentrates, which is what [[cappedBucketJoin]] guards).
    * 2^planes buckets ⇒ planes = log2(n / targetBucket), floored at 8
    * and capped at 30 (the bucket id is a signed int of sign bits). */
  def autoPlanes(corpusSize: Long, targetBucket: Long = 1024L): Int =
    math.min(30, math.max(8, 64 - java.lang.Long.numberOfLeadingZeros(
      math.max(1L, corpusSize / math.max(1L, targetBucket)) - 1)))

  /** Embedding cosine near-dup: random-hyperplane LSH buckets, exact
    * cosine rerank within buckets. `planes` sign bits per vector; vectors
    * agreeing on all bits land in one bucket. Deterministic hyperplanes
    * derived from a seeded Gaussian. `planes <= 0` sizes the bucket count
    * to the corpus via [[autoPlanes]] (one count job); fixed defaults
    * under-bucket at scale — 8 planes is 256 buckets, quadratic by 10⁷
    * vectors. */
  def embeddingDups(emb: DataFrame, dim: Int, planes: Int = 8,
      minCosine: Double = 0.95, idCol: String = "vec_id",
      vecCol: String = "embedding", bucketCap: Int = 256): DataFrame = {
    val np = if (planes > 0) planes else autoPlanes(emb.count())
    val hp = Ann.hyperplanes(np, dim, seed = 42L)
    val bucketed = emb.select(col(idCol).as("id"), col(vecCol).as("v"),
      Ann.signBucket(col(vecCol), hp).as("bucket"))
    cappedBucketJoin(bucketed, Seq("bucket"), bucketCap, payload = Seq("v"))
      .select(col("id_a"), col("id_b"),
        graft.functions.GraftFunctions.cosine_sim(col("v_a"), col("v_b"))
          .as("cos"))
      .filter(col("cos") >= minCosine)
      .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cos"))
  }

  /** SemDeDup — semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): partition the corpus by k-means cluster, then
    * within each cluster mark as duplicates the members that are
    * near-identical in embedding space to a kept member. The keeper
    * discipline follows the paper: within a duplicate pair the member
    * with the LOWER cosine to its centroid is kept (cluster-edge
    * examples carry more information than cluster-core ones), so a
    * member `b` is a duplicate iff some same-cluster member `a` with
    * `cos(a, b) >= tau` precedes it in (centroid-cosine ASC, id ASC)
    * order. Deterministic — ties break on id — and non-chained (a
    * dropped member still shadows later lookalikes, matching the
    * paper's one-pass pruning).
    *
    * Returns `(id, cluster, ccos, is_dup)`: the assignment, the
    * centroid cosine (on the 6-digit grid the keeper order uses),
    * and the drop decision.
    *
    * 100 TB shape (the reason SemDeDup clusters first): the pairwise
    * probe is confined to one k-means cell — a self-join on the
    * cluster id, never a corpus-wide cross. `nlist` is sized so cells
    * stay bounded (the paper uses ~√n clusters; [[Ann.trainIvf]]
    * samples its training set, so a large `nlist` costs one sampled
    * k-means, not a corpus pass). Assignment itself is the map-side
    * codegen'd [[Ann.nearestCells]] expression — no join, no shuffle.
    * AND the within-cell pairing runs through [[cappedBucketJoin]]:
    * even with ~√n sizing, real corpora concentrate mass (a crawl's
    * boilerplate cluster can hold millions of members), and an
    * unguarded cell self-join is O(cell²). Cells at or under
    * `cellCap` get the exact all-pairs probe; a hotter cell is split
    * into hash blocks of ~`cellCap` members probed within-block and
    * adjacent-block — cost O(size·cap), the same documented
    * approximation [[embeddingDups]] uses (a shadow pair spanning
    * non-adjacent blocks is missed; near-identical members that
    * populous are chained through intermediate blocks with
    * overwhelming probability). `cellCap <= 0` disables the guard.
    * Compare [[embeddingDups]]: hyperplane LSH catches lookalikes at
    * any corpus position but needs bucket-capacity guards; SemDeDup
    * inherits k-means' balanced cells and a semantic notion of "same
    * region" — the two are complementary published designs.
    *
    * `tau` defaults to 0.95 — the near-duplicate regime the paper
    * operates in (its Fig. 2 sweeps 0.9-0.99); lower values shade
    * into topic-level pruning, which is a policy choice the caller
    * makes explicitly. */
  def semantic(emb: DataFrame, model: Ann.IvfModel, tau: Double = 0.95,
      idCol: String = "vec_id", vecCol: String = "embedding",
      cellCap: Int = 4096): DataFrame = {
    val centers = typedLit(model.centers.map(_.toSeq).toSeq)
    // centroid cosine at full double precision ROUNDED TO 6 before the
    // ordering/compare: both engines land on identical grid values, so
    // the keeper order and the tau boundary are engine-independent
    val assigned = emb
      .select(col(idCol).as("id"), col(vecCol).as("v"),
        element_at(Ann.nearestCells(col(vecCol), model, 1), 1)
          .cast("int").as("cluster"))
      .select(col("id"), col("v"), col("cluster"),
        round(graft.functions.GraftFunctions.cosine_sim(col("v"),
          element_at(centers, col("cluster") + 1)), 6).as("ccos"))
    // capacity-guarded within-cell pairing: each unordered pair comes
    // out once (id_a < id_b); the shadow DIRECTION — the paper's
    // (centroid-cosine ASC, id ASC) keeper order — is decided per
    // pair, so the dropped member is whichever side is LATER in that
    // order
    // every member holds exactly one cell, so no pair can surface
    // twice — skip the pair-wide distinct (it would shuffle both
    // embedding payloads per pair for nothing)
    val pairs = cappedBucketJoin(assigned, Seq("cluster"), cellCap,
      payload = Seq("v", "ccos"), dedupPairs = false)
    val shadowed = pairs
      .filter(round(graft.functions.GraftFunctions.cosine_sim(
        col("v_a"), col("v_b")), 6) >= tau)
      .select(when(col("ccos_a") < col("ccos_b") ||
          (col("ccos_a") === col("ccos_b") &&
            col("id_a") < col("id_b")),
        col("id_b")).otherwise(col("id_a")).as("id"))
      .distinct()
    // output ccos on the SAME 6-digit grid the ordering/compare used:
    // re-rounding to a coarser grid would double-round, and a 6-grid
    // value sitting exactly on a 4-digit half-boundary (x.xxxx50)
    // rounds differently under decimal-string HALF_UP (Spark) vs
    // binary-double rounding (other engines) — one rounding, one grid
    assigned
      .join(shadowed.withColumn("_dup", lit(1)), Seq("id"), "left")
      .select(col("id").as(idCol), col("cluster"),
        col("ccos"),
        col("_dup").isNotNull.as("is_dup"))
  }

  /** Exact n-gram Jaccard over an explicit candidate-pair set. */
  def ngramJaccardPairs(pairs: DataFrame, n: Int = 3,
      aCol: String = "txt_a", bCol: String = "txt_b"): DataFrame =
    pairs.withColumn("jaccard", ngram_jaccard(col(aCol), col(bCol), n))

  /** Duplicate clusters: transitive closure over near-dup pairs (pair
    * (a,b) + (b,c) => cluster {a,b,c}), labeled by the minimum member
    * id. The closure is the large-star/small-star alternation
    * (Kiveris et al. 2014, "Connected Components in MapReduce and
    * Beyond") expressed ENTIRELY in DataFrame groupBy/join rounds —
    * no RDD/GraphX stage, so every round is AQE-planned (skew-split,
    * broadcast when small) like the rest of the engine and the
    * multi-second graph job-setup floor disappears. Rounds converge
    * in O(log n) (each alternation at least halves tree heights —
    * strictly better than Pregel's O(diameter)); per-round state is
    * one (node, parent) edge per non-root node, shuffled on the node
    * id; high-degree hubs are handled by a min-aggregate + join-back
    * on the SAME key (exchange reuse), never a collect_list.
    * Output: (doc_id, cluster), one row per distinct endpoint id. */
  def clusters(pairs: DataFrame, idACol: String = "id_a",
      idBCol: String = "id_b"): DataFrame = {
    // one generation of the upstream pair pipeline: vertices AND the
    // edge seed both derive from this checkpoint (without it, the
    // final vertex join would re-execute the whole candidate
    // pipeline a second time)
    val raw = pairs
      .select(col(idACol).cast("long").as("u"),
        col(idBCol).cast("long").as("v"))
      .filter(col("u").isNotNull && col("v").isNotNull)
      .transform(graft.Materialize.barrier)
    val verts = raw.select(col("u").as("doc_id"))
      .union(raw.select(col("v").as("doc_id"))).distinct()
    // edges directed large -> small; both star steps preserve the
    // invariant (they emit (x, m) with m the group minimum, m < x)
    // each edge generation is a LAZY barrier, dropped once superseded
    // (at most two generations live). Lazy: the round's convergence
    // test is its first consumer and materializes it — an eager one
    // would pay an extra job per round (r20: JOB overhead, not data).
    var edges = raw.filter(col("u") =!= col("v"))
      .select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      .distinct()
      .transform(graft.Materialize.barrier)
    // large-star: every node x attaches its LARGER neighbors to
    // m = min(N(x) ∪ {x}) — breaks up high-degree hubs. Duplicate
    // emissions are NOT deduplicated here: small-star's min-group
    // tolerates them and its own distinct collapses the rest, so
    // skipping the dedup saves one exchange per round.
    def largeStar(e: DataFrame): DataFrame = {
      val nbrs = e.select(col("u").as("s"), col("v").as("d"))
        .union(e.select(col("v").as("s"), col("u").as("d")))
      val mins = nbrs.groupBy(col("s"))
        .agg(min(col("d")).as("mn"))
        .select(col("s"), least(col("s"), col("mn")).as("m"))
      nbrs.join(mins, "s")
        .filter(col("d") > col("s"))
        .select(col("d").as("u"), col("m").as("v"))
    }
    // small-star: every node x attaches itself and its SMALLER
    // neighbors to m = min of the group — flattens chains
    def smallStar(e: DataFrame): DataFrame = {
      val mins = e.groupBy(col("u")).agg(min(col("v")).as("m"))
      val fromCenter = mins.select(col("u"), col("m").as("v"))
      val fromLeaves = e.join(mins, "u")
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
      fromCenter.union(fromLeaves).distinct()
    }
    // fixpoint test, STRUCTURAL so no confirm round is paid: a
    // large→small edge set is the converged star forest iff every
    // child has exactly one parent (count == distinct children ⇔ no
    // child row count exceeds 1) and no node is both child and parent.
    // Sufficiency: out-degree 1 + disjoint roles ⇒ each component is
    // one childless root (the component min, since every child exceeds
    // its parent) with direct leaves; necessity is Kiveris et al.'s
    // convergence theorem. r20: the old agg + semi-join pair was TWO
    // jobs per round on tiny data — both conditions now fold into ONE
    // role rollup job (per node: child-row count, child/parent flags),
    // and it doubles as the job that materializes the round's lazy
    // generation checkpoint.
    def isStarForest(e: DataFrame): Boolean = {
      val roles = e
        .select(col("u").as("n"), lit(1L).as("c"), lit(0).as("p"))
        .unionAll(e
          .select(col("v").as("n"), lit(0L).as("c"), lit(1).as("p")))
        .groupBy(col("n"))
        .agg(sum(col("c")).as("cs"), max(col("p")).as("ip"))
      val r = roles.agg(
        coalesce(max(when(col("cs") > 0 && col("ip") === 1, 1)
          .otherwise(0)), lit(0)).as("both"),
        coalesce(max(col("cs")), lit(0L)).as("maxChildRows")).head()
      r.getInt(0) == 0 && r.getLong(1) <= 1L
    }
    var converged = isStarForest(edges)
    var rounds = 0
    while (!converged && rounds < 50) {
      val next = smallStar(largeStar(edges))
        .transform(graft.Materialize.barrier)
      // the convergence test materializes the new generation (it is
      // the checkpoint's first consumer), so the previous generation
      // is dropped only AFTER next's blocks exist — a localCheckpoint
      // cannot be recomputed
      converged = isStarForest(next)
      graft.Materialize.drop(edges)
      edges = next
      rounds += 1
    }
    require(converged, s"connected components did not converge in " +
      s"$rounds rounds — pathological input")
    verts.join(edges.select(col("u").as("doc_id"),
        col("v").as("__cc_root")), Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("__cc_root"), col("doc_id")).as("cluster"))
  }

  /** Duplicate TOKEN inflation per cluster — what a dedup pass is
    * actually worth in training-token terms: each near-dup cluster's
    * total whitespace-token mass vs the mass of its representative
    * (the component-minimum doc, which [[keepRepresentatives]]
    * keeps). `tokens_total − tokens_kept` summed over clusters is
    * exactly the token budget the dedup recovers. Rides the
    * [[clusters]] closure + one map-side token count + one hash
    * rollup.
    *
    * @return `(cluster, size, tokens_total, tokens_kept)` ordered
    */
  def dupInflation(docs: DataFrame, pairs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text")
      : DataFrame = {
    val cl = clusters(pairs)
    val tokc = docs.select(col(idCol).cast("long").as("doc_id"),
      size(regexp_extract_all(col(textCol), lit("\\S+"), lit(0)))
        .cast("long").as("__di_ntok"))
    cl.join(tokc, Seq("doc_id"))
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("size"),
        sum(col("__di_ntok")).cast("long").as("tokens_total"),
        sum(when(col("doc_id") === col("cluster"), col("__di_ntok"))
          .otherwise(0L)).cast("long").as("tokens_kept"))
      .orderBy(col("cluster"))
  }

  /** Keep one representative (lowest id) per duplicate cluster; docs in
    * no cluster pass through. Returns the deduplicated corpus. */
  def keepRepresentatives(docs: DataFrame, pairs: DataFrame,
      idCol: String = "doc_id"): DataFrame = {
    val cl = clusters(pairs).withColumnRenamed("doc_id", "__cid")
    val losers = cl.filter(col("__cid") =!= col("cluster"))
      .select(col("__cid"))
    docs.join(losers, docs(idCol) === losers("__cid"), "left_anti")
  }

  /** One-call corpus deduplication — the entry point a pipeline user
    * actually wants: candidate generation (capacity-guarded) → rerank →
    * transitive duplicate clusters → one representative kept per
    * cluster. Returns the deduplicated corpus with the input schema.
    *
    *  - `"exact"`:   byte-identical texts (md5 group, no pair phase)
    *  - `"minhash"`: MinHash+LSH candidates, exact-Jaccard rerank at
    *                 `minJaccard`
    *  - `"simhash"`: SimHash bands, Hamming rerank at `maxHamming`
    */
  def dedupCorpus(docs: DataFrame, method: String = "minhash",
      minJaccard: Double = 0.5, maxHamming: Int = 3, bucketCap: Int = 256,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // clusters() orders/labels on long node ids — fail fast with a
    // clear message rather than failing deep in the closure on
    // string ids
    val idType = docs.schema(idCol).dataType
    val integral = idType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.ByteType => true
      case _ => false
    }
    require(method == "exact" || integral,
      s"dedupCorpus needs an integral id column (long cluster ids); " +
      s"'$idCol' is ${idType.simpleString} — derive one first, e.g. " +
      s"withColumn(\"$idCol\", xxhash64(col(\"$idCol\")))")
    method match {
      case "exact" =>
        val keep = exact(docs, idCol, textCol)
          .select(col("keep_id").as("__keep"))
        docs.join(keep, docs(idCol) === col("__keep"), "left_semi")
      case "minhash" =>
        keepRepresentatives(docs,
          minHashLsh(docs, minJaccard = minJaccard, idCol = idCol,
            textCol = textCol, bucketCap = bucketCap), idCol)
      case "simhash" =>
        keepRepresentatives(docs,
          simHashDups(docs, maxHamming, idCol, textCol, bucketCap), idCol)
      case other => throw new IllegalArgumentException(
        s"unknown dedup method '$other' (exact | minhash | simhash)")
    }
  }

  private def intDiv(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(new org.apache.spark.sql.catalyst.expressions
      .IntegralDivide(ColumnBridge.expression(a),
        ColumnBridge.expression(b)))
  }

  /** EXACT set-similarity self-join with prefix filtering (the
    * AllPairs/PPJoin family — Bayardo 2007, Xiao 2008, public
    * algorithms): every document pair whose word-`n`-gram-shingle
    * Jaccard is ≥ `tPpm/10⁶`, with NO false negatives — the exact
    * counterpart to MinHash LSH (which trades recall for speed).
    *
    * Why it scales: a pair with J ≥ t MUST share a shingle inside
    * each side's PREFIX — the first `m − ⌈t·m⌉ + 1` shingles under a
    * single global ordering (if the prefixes shared nothing, the
    * intersection would fit in the remaining ⌈t·m⌉ − 1 < ⌈t·m⌉ ≤
    * |intersection| slots). Ordering shingles RAREST-FIRST
    * (document-frequency ascending, shingle tiebreak) makes prefixes
    * meet almost only on rare shingles, so the candidate join is
    * |near-dup pairs|-sized, not n². A length filter
    * (`t·max(m₁,m₂) ≤ min(m₁,m₂)`, integer ppm) prunes before
    * verification; verification is one `array_intersect` per
    * surviving candidate. Integer contract: the score is
    * `⌊inter·10⁶ / union⌋`, the threshold compare is
    * `inter·10⁶ ≥ tPpm·union` — exact in any engine.
    *
    * @return `(id_a, id_b, jaccard_ppm)`, id_a < id_b, ordered
    */
  /** @param dfCap stop-shingle guard for adversarial corpora: shingles
    *   appearing in MORE than `dfCap` documents are dropped from every
    *   set before anything else (exactly like stopword removal), so a
    *   template shingle shared by the whole corpus can never drive the
    *   candidate join toward n² — any surviving shingle pairs at most
    *   `dfCap`² candidates. The join is then EXACT ON THE REDUCED
    *   SETS (a disclosed semantic, deterministic and replayable — not
    *   a silent recall loss). Default: uncapped. */
  def jaccardJoin(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", n: Int = 4,
      tPpm: Long = 500000L, dfCap: Long = Long.MaxValue): DataFrame = {
    require(tPpm > 0 && tPpm <= 1000000L,
      s"tPpm must be in (0, 1000000], got $tPpm")
    require(dfCap >= 2, s"dfCap must be >= 2, got $dfCap")
    // the shingle explode feeds the document-frequency rollup AND the
    // ordered-set build — materialize it once (same bytes both
    // consumers shuffle anyway)
    val grams = CorpusOps.wordNgrams(docs, n, idCol, textCol)
      .select(col(idCol).as("id"), col("gram"))
      .transform(graft.Materialize.barrier)
    val dfreq = grams.groupBy(col("gram"))
      .agg(count(lit(1)).as("gdf"))
      .filter(col("gdf") <= dfCap)
    // the ordered-set table has THREE consumers (the prefix explode
    // plus both verification join-backs) and its lineage is the whole
    // shingle⋈df pipeline with a per-doc sort — one materialization
    val ordered = grams.join(dfreq, Seq("gram"))
      .groupBy(col("id"))
      .agg(sort_array(collect_list(struct(col("gdf"), col("gram"))))
        .as("og"))
      .select(col("id"),
        transform(col("og"), g => g("gram")).as("ts"),
        size(col("og")).cast("long").as("m"))
      .transform(graft.Materialize.barrier)
    // prefix length p = m − ⌈t·m⌉ + 1 (integer ceil in ppm)
    val p = (col("m") -
      intDiv(col("m") * tPpm + lit(999999L), lit(1000000L)) +
      lit(1L)).cast("int")
    // the prefix table is SELF-joined below; at bench scale AQE
    // broadcasts one side, which defeats exchange reuse and re-runs
    // the explode per side — materialize it once (cappedBucketJoin
    // precedent)
    val pref = ordered.select(col("id"), col("m"),
      posexplode(slice(col("ts"), lit(1), p)).as(Seq("pos0", "gram")))
      .transform(graft.Materialize.barrier)
    // PPJoin positional filter: the intersection is confined to
    // elements ≥ the shared prefix gram in the global order, so
    // |inter| ≤ min(mₐ − posₐ, m_b − pos_b) + 1 for the FIRST shared
    // gram; a pair passing for ANY shared gram passes for its first,
    // so any-gram keep is sound. minInter = ⌈t(mₐ+m_b)/(1+t)⌉ in ppm.
    val minInter = intDiv(
      lit(tPpm) * (col("m_a") + col("m_b")) + lit(1000000L + tPpm - 1),
      lit(1000000L + tPpm))
    val cand = pref
      .select(col("id").as("id_a"), col("m").as("m_a"),
        col("pos0").as("pa"), col("gram"))
      .join(pref.select(col("id").as("id_b"), col("m").as("m_b"),
        col("pos0").as("pb"), col("gram")), Seq("gram"))
      .filter(col("id_a") < col("id_b") &&
        greatest(col("m_a"), col("m_b")) * tPpm <=
          least(col("m_a"), col("m_b")) * lit(1000000L) &&
        least(col("m_a") - col("pa") - 1L,
          col("m_b") - col("pb") - 1L) + 1L >= minInter)
      .select(col("id_a"), col("id_b")).distinct()
    cand
      .join(ordered.select(col("id").as("id_a"), col("ts").as("ts_a"),
        col("m").as("ma")), Seq("id_a"))
      .join(ordered.select(col("id").as("id_b"), col("ts").as("ts_b"),
        col("m").as("mb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("ts_a"), col("ts_b"))).cast("long")
          .as("inter"),
        (col("ma") + col("mb")).as("msum"))
      .withColumn("un", col("msum") - col("inter"))
      .filter(col("inter") * lit(1000000L) >= lit(tPpm) * col("un"))
      .select(col("id_a"), col("id_b"),
        intDiv(col("inter") * lit(1000000L), col("un"))
          .as("jaccard_ppm"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** MinHash calibration readout: per candidate pair, the signature's
    * OWN similarity estimate (agreeing positions / k, the unbiased
    * Jaccard estimator) next to the exact n-gram Jaccard — the
    * "is k big enough / are the bands tuned" health check a near-dup
    * deployment runs before trusting LSH recall at 100 TB. Estimate
    * and truth both land at 1e4 scale with an absolute error column;
    * signatures ride the SAME per-pair join the rerank texts already
    * take, so cost is one extra array zip per surviving pair.
    *
    * @return `(id_a, id_b, est_e4, jaccard_e4, abs_err_e4)` ordered
    */
  def minhashEstimate(docs: DataFrame, numHashes: Int = 64,
      bands: Int = 16, shingleSize: Int = 3, minJaccard: Double = 0.5,
      idCol: String = "doc_id", textCol: String = "text",
      bucketCap: Int = 256): DataFrame = {
    require(numHashes % bands == 0)
    val banded =
      bandKeys(docs, numHashes, bands, shingleSize, idCol, textCol)
    val candidates =
      cappedBucketJoin(banded, Seq("band", "band_hash"), bucketCap)
    val sig = docs.select(col(idCol).as("sid"),
      minhash(col(textCol), numHashes, shingleSize).as("sig"))
      .transform(graft.Materialize.barrier)
    val txt = docs.select(col(idCol).as("tid"), col(textCol).as("txt"))
    candidates
      .join(sig.select(col("sid"), col("sig").as("sig_a")),
        col("id_a") === col("sid")).drop("sid")
      .join(sig.select(col("sid"), col("sig").as("sig_b")),
        col("id_b") === col("sid")).drop("sid")
      .join(txt, col("id_a") === col("tid"))
      .withColumnRenamed("txt", "txt_a").drop("tid")
      .join(txt, col("id_b") === col("tid"))
      .withColumnRenamed("txt", "txt_b").drop("tid")
      .withColumn("j",
        ngram_jaccard(col("txt_a"), col("txt_b"), shingleSize))
      .filter(col("j") >= minJaccard)
      .select(col("id_a"), col("id_b"),
        intDiv(aggregate(zip_with(col("sig_a"), col("sig_b"),
          (x, y) => when(x === y, 1L).otherwise(0L)),
          lit(0L), (a, b) => a + b) * lit(10000L),
          lit(numHashes.toLong)).as("est_e4"),
        round(round(col("j"), 4) * 10000).cast("long")
          .as("jaccard_e4"))
      .withColumn("abs_err_e4", abs(col("est_e4") - col("jaccard_e4")))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Near-dup CLUSTER QUALITY: per connected component of the
    * candidate graph, the member count, observed pair count and mean
    * pairwise Jaccard (1e4 scale, floored) — low mean on a big
    * cluster is the shingle-storm signature (transitively-chained
    * weak pairs), the go/no-go before deleting a duplicate group at
    * 100 TB. Rides [[minHashLsh]] + [[clusters]]; one join of pairs
    * to labels plus two rollups on top.
    *
    * @return `(cluster, size, n_pairs, mean_jac_e4)` ordered
    */
  def clusterQuality(docs: DataFrame, minJaccard: Double = 0.2,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val prs = minHashLsh(docs, minJaccard = minJaccard, idCol = idCol,
      textCol = textCol).transform(graft.Materialize.barrier)
    val cl = clusters(prs).transform(graft.Materialize.barrier)
    val quality = prs
      .join(cl.select(col("doc_id").as("id_a"), col("cluster")),
        Seq("id_a"))
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(round(round(col("jaccard"), 4) * 10000).cast("long"))
          .as("sj"))
    cl.groupBy(col("cluster")).agg(count(lit(1)).as("size"))
      .join(quality, Seq("cluster"))
      .select(col("cluster"), col("size"), col("n_pairs"),
        intDiv(col("sj"), col("n_pairs")).as("mean_jac_e4"))
      .orderBy(col("cluster"))
  }
}
