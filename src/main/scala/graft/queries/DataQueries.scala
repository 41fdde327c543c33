package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Lake
import graft.functions.TextFns
import graft.operators.{Bloom, Dedup, Multimodal, Par, Similarity}
import graft.streaming.Streams
import graft.queries.CoreQueries.Q

/** Training-data pipeline operators (dedup / similarity / text analysis /
  * multimodal / streaming) with DuckDB oracles. All hashing is md5-derived
  * so both engines compute identical values; all float math mirrors the
  * oracle's operation order bit-for-bit (verified: sequential double
  * accumulation == DuckDB list_dot_product).
  */
object DataQueries {

  import Shared.{docs, emb, cosSql, embCte, sqlList}

  // ---------------------------------------------------------------- dedup

  def d01DedupExact(spark: SparkSession, dir: String): DataFrame =
    Dedup.exact(docs(spark, dir), "doc_id", "text").orderBy("content_hash")

  val d01Oracle: String =
    """SELECT md5(text) AS content_hash, count(*) AS n_copies,
      |       min(doc_id) AS keeper_id
      |FROM documents GROUP BY 1 ORDER BY content_hash""".stripMargin

  /** Shared oracle CTEs, mirroring Dedup.shingleSets exactly: char-5
    * shingles hashed to 28-bit ints then deduplicated (hash-then-distinct
    * order matters under collisions), plus the affine-minhash signature.
    */
  private[queries] val shingleCtes: String =
    """pos AS (SELECT doc_id, text, unnest(range(1, length(text) - 3)) AS i
      |        FROM documents),
      |sh AS (SELECT doc_id,
      |         ('0x' || substr(md5(substr(text, i, 5)), 1, 7))::BIGINT AS h
      |       FROM pos),
      |shd AS (SELECT DISTINCT doc_id, h FROM sh)""".stripMargin

  private[queries] val sigCte: String = {
    val mins = (0 until 8).map(i =>
      s"min((${Dedup.MinhashA(i)} * h + ${Dedup.MinhashB(i)}) % ${Dedup.MinhashP}) AS mh_$i")
      .mkString(", ")
    s"sig AS (SELECT doc_id, $mins FROM sh GROUP BY doc_id)"
  }

  private[queries] def bandSql(b: Int): String =
    (b * 4 until (b + 1) * 4).map(i => s"mh_$i::VARCHAR").mkString(" || '|' || ")

  def d02MinhashSig(spark: SparkSession, dir: String): DataFrame =
    DocIndex.index(spark, dir).minhashSigs.orderBy("doc_id")

  val d02Oracle: String =
    s"""WITH $shingleCtes, $sigCte
       |SELECT doc_id, mh_0, mh_1, mh_2, mh_3, mh_4, mh_5, mh_6, mh_7,
       |  md5(${bandSql(0)}) AS band_0,
       |  md5(${bandSql(1)}) AS band_1
       |FROM sig ORDER BY doc_id""".stripMargin

  /** Full LSH pipeline: band-bucket candidates → exact-Jaccard verify.
    * One narrow pass builds the row-local shingle sets; signatures are a
    * per-row projection of them; the only shuffles are the band self-join
    * and the candidate⨝sets verify joins.
    */
  def d03LshPipeline(spark: SparkSession, dir: String): DataFrame = {
    // sets + signatures SERVED from the session DocIndex (the checkpoint
    // barrier the fan-out needs is the index table itself)
    val ix = DocIndex.index(spark, dir)
    val cands = Dedup.lshCandidates(ix.minhashSigs, "doc_id")
    Dedup.jaccardVerifySets(cands, ix.shingleSets5, "doc_id")
      .orderBy("a_id", "b_id")
  }

  /** Pair-bounded intersection (expects a `cand(a_id, b_id)` CTE) —
    * mirrors Dedup.jaccardVerify's candidates ⋈ shingles ⋈ shingles shape.
    */
  private[queries] val jaccardVerifyCtes: String =
    """sizes AS (SELECT doc_id, count(*) AS sz FROM shd GROUP BY doc_id),
      |inter AS (SELECT c.a_id, c.b_id, count(*) AS inter
      |          FROM cand c
      |          JOIN shd sa ON sa.doc_id = c.a_id
      |          JOIN shd sb ON sb.doc_id = c.b_id AND sb.h = sa.h
      |          GROUP BY 1, 2)""".stripMargin

  val d03Oracle: String =
    s"""WITH $shingleCtes, $sigCte,
       |bands AS (
       |  SELECT doc_id, 0 AS band_idx, md5(${bandSql(0)}) AS band_hash FROM sig
       |  UNION ALL
       |  SELECT doc_id, 1, md5(${bandSql(1)}) FROM sig),
       |cand AS (SELECT DISTINCT l.doc_id AS a_id, r.doc_id AS b_id
       |         FROM bands l JOIN bands r
       |           ON l.band_idx = r.band_idx AND l.band_hash = r.band_hash
       |              AND l.doc_id < r.doc_id),
       |$jaccardVerifyCtes
       |SELECT i.a_id, i.b_id, i.inter,
       |  round(i.inter * 1.0 / (sa.sz + sb.sz - i.inter), 6) AS jaccard
       |FROM inter i
       |JOIN sizes sa ON sa.doc_id = i.a_id
       |JOIN sizes sb ON sb.doc_id = i.b_id
       |ORDER BY a_id, b_id""".stripMargin

  /** N-gram Jaccard near-dups via rare-shingle candidate pruning —
    * sets and candidates SERVED from the session DocIndex (shared with
    * d16, which scores the identical candidate set by containment).
    */
  def d04JaccardPairs(spark: SparkSession, dir: String): DataFrame = {
    val ix = DocIndex.index(spark, dir)
    Dedup.jaccardPairsFromSets(ix.shingleSets5, ix.rareCandidates50,
        "doc_id", minJaccard = 0.8)
      .orderBy("a_id", "b_id")
  }

  val d04Oracle: String =
    s"""WITH $shingleCtes,
       |rare AS (SELECT h FROM shd GROUP BY h HAVING count(*) <= 50),
       |shr AS (SELECT shd.doc_id, shd.h FROM shd JOIN rare USING (h)),
       |cand AS (SELECT DISTINCT l.doc_id AS a_id, r.doc_id AS b_id
       |         FROM shr l JOIN shr r
       |           ON l.h = r.h AND l.doc_id < r.doc_id),
       |$jaccardVerifyCtes
       |SELECT i.a_id, i.b_id, i.inter,
       |  round(i.inter * 1.0 / (sa.sz + sb.sz - i.inter), 6) AS jaccard
       |FROM inter i
       |JOIN sizes sa ON sa.doc_id = i.a_id
       |JOIN sizes sb ON sb.doc_id = i.b_id
       |WHERE round(i.inter * 1.0 / (sa.sz + sb.sz - i.inter), 6) >= 0.8
       |ORDER BY a_id, b_id""".stripMargin

  /** Asymmetric containment near-dups (quote/subsume detection) — same
    * rare-shingle candidates as d04, verdict is |A∩B|/|A| per side.
    */
  def d16ContainmentPairs(spark: SparkSession, dir: String): DataFrame = {
    val ix = DocIndex.index(spark, dir)
    Dedup.containmentPairsFromSets(ix.shingleSets5, ix.rareCandidates50,
        "doc_id", minContainment = 0.7)
      .orderBy("a_id", "b_id")
  }

  val d16Oracle: String =
    s"""WITH $shingleCtes,
       |rare AS (SELECT h FROM shd GROUP BY h HAVING count(*) <= 50),
       |shr AS (SELECT shd.doc_id, shd.h FROM shd JOIN rare USING (h)),
       |cand AS (SELECT DISTINCT l.doc_id AS a_id, r.doc_id AS b_id
       |         FROM shr l JOIN shr r
       |           ON l.h = r.h AND l.doc_id < r.doc_id),
       |$jaccardVerifyCtes
       |SELECT i.a_id, i.b_id, i.inter,
       |  round(i.inter * 1.0 / sa.sz, 6) AS cont_a,
       |  round(i.inter * 1.0 / sb.sz, 6) AS cont_b
       |FROM inter i
       |JOIN sizes sa ON sa.doc_id = i.a_id
       |JOIN sizes sb ON sb.doc_id = i.b_id
       |WHERE greatest(round(i.inter * 1.0 / sa.sz, 6),
       |               round(i.inter * 1.0 / sb.sz, 6)) >= 0.7
       |ORDER BY a_id, b_id""".stripMargin

  def d05Simhash(spark: SparkSession, dir: String): DataFrame =
    DocIndex.index(spark, dir).simhash.orderBy("doc_id")

  /** The simhash CTE chain over an arbitrary `(doc_id, text)` source
    * relation — d24 re-runs it over the exact-dedup representatives.
    */
  private[queries] def simhashCtesOver(src: String): String = {
    val bitSums = (0 until 60)
      .map(j => s"sum(((h >> $j) & 1) * 2 - 1) AS s_$j").mkString(", ")
    val assemble = (0 until 60)
      .map(j => s"CASE WHEN s_$j > 0 THEN ${1L << j} ELSE 0 END")
      .mkString(" + ")
    s"""toks AS (SELECT doc_id, ('0x' || substr(md5(w), 1, 15))::BIGINT AS h
       |  FROM (SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS w FROM $src)
       |  WHERE length(w) > 0),
       |bitsums AS (SELECT doc_id, $bitSums FROM toks GROUP BY doc_id),
       |sims AS (SELECT doc_id, CAST($assemble AS BIGINT) AS simhash FROM bitsums)"""
      .stripMargin
  }

  private[queries] val simhashCtes: String = simhashCtesOver("documents")

  val d05Oracle: String =
    s"""WITH $simhashCtes
       |SELECT doc_id, simhash FROM sims ORDER BY doc_id""".stripMargin

  def d06SimhashPairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(DocIndex.index(spark, dir).simhash,
        "doc_id", maxHamming = 8)
      .orderBy("a_id", "b_id")

  val d06Oracle: String =
    s"""WITH $simhashCtes
       |SELECT l.doc_id AS a_id, r.doc_id AS b_id,
       |  bit_count(xor(l.simhash, r.simhash)) AS hamming
       |FROM sims l JOIN sims r ON l.doc_id < r.doc_id
       |WHERE bit_count(xor(l.simhash, r.simhash)) <= 8
       |ORDER BY a_id, b_id""".stripMargin

  /** d06's pairs served from the PERSISTED signature index
    * ([[graft.operators.DocIndexStore]], the d-side sibling of s16): the
    * first ~80% of the corpus lands as the initial index write, the rest
    * as an incremental APPEND batch (signatures are per-row pure
    * functions, so append is the whole maintenance story), then the
    * banded pair join runs off the LOADED table. Same oracle as d06:
    * persistence + incremental append must be result-invisible.
    */
  def d28PersistedSigIndex(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.DocIndexStore
    val ix = DocIndex.index(spark, dir)
    CoreQueries.withTempDir(spark, "graft_d28") { rootPath =>
      val root = rootPath.toString
      val split = col("doc_id") % 5 < 4
      DocIndexStore.write(root, DocIndexStore.Components(
        ix.simhash.filter(split), ix.minhashSigs.filter(split)),
        sigSpec = DocIndex.SigSpec)
      // the two incremental waves append to DIFFERENT component tables,
      // each internally CAS'd and cut-adopted — concurrent appenders are
      // the store's tested regime (DocIndexStoreSpec's racing-appender
      // soak; AnnIndexStore.appendVectors fans out 4 the same way), so
      // overlap them (guide §2.6) instead of paying two sequential
      // guard+commit+publish round-trips
      locally {
        import scala.concurrent.{Await, Future, blocking}
        import scala.concurrent.ExecutionContext.Implicits.global
        import scala.concurrent.duration.Duration
        val fSim = Future(blocking(DocIndexStore.appendSimhash(root,
          ix.simhash.filter(!split), sigSpec = DocIndex.SigSpec)))
        val fMin = Future(blocking(DocIndexStore.appendMinhash(root,
          ix.minhashSigs.filter(!split), sigSpec = DocIndex.SigSpec)))
        Await.result(fSim, Duration.Inf)
        Await.result(fMin, Duration.Inf)
      }
      val loaded = DocIndexStore.load(spark, root)
      // spread the LOADED probe side (guide §2.5): the store chain is a
      // couple of small parquet dirs, so the banded self-join's map side
      // would otherwise run on 2–3 of the machine's cores (the session
      // table d06 joins is already spread); at lake scale the loaded
      // table carries ≥ cores splits and spread no-ops. The store WRITE
      // inputs stay unspread (the AnnEval lesson: spreading a
      // component-sized write fans it into 32 tiny files).
      Dedup.simhashPairs(graft.Lake.spread(loaded.simhash, col("doc_id")),
          "doc_id", maxHamming = 8)
        .orderBy("a_id", "b_id")
    }
  }

  // ----------------------------------------------------------- similarity


  /** Exact all-pairs baseline, kept under the oracle gate as ground truth
    * for e03's recall eval — the O(n²) plan is behind an EXPLICIT opt-in
    * (`allowQuadratic`), so no consumer reaches the BNLJ by accident.
    */
  def e01EmbedNearDup(spark: SparkSession, dir: String): DataFrame =
    Similarity.cosineNearDupPairs(emb(spark, dir), threshold = 0.4,
        allowQuadratic = true)
      .orderBy("a_id", "b_id")

  val e01Oracle: String =
    s"""WITH $embCte
       |SELECT l.vec_id AS a_id, r.vec_id AS b_id,
       |  round(${cosSql("l.v", "r.v")}, 6) AS cosine
       |FROM e l JOIN e r ON l.vec_id < r.vec_id
       |WHERE ${cosSql("l.v", "r.v")} >= 0.4
       |ORDER BY a_id, b_id""".stripMargin

  /** IVF-bucketed near-dup (the scale form of e01): MULTI-PROBE
    * nearest-of-8-centroids assignment (nprobe=2 — the recall default the
    * e03 eval measured: boundary-straddling pairs meet in the straddled
    * neighbor's bucket at ×2 candidate cost) → shared-bucket equi-join
    * candidates (distinct'd) → exact cosine verify. The plan contains no
    * BroadcastNestedLoopJoin (PlanSpec).
    */
  def e02EmbedNearDupBucketed(spark: SparkSession, dir: String): DataFrame = {
    // SERVED from the shared index (AnnEval.assignedMulti2) — the
    // assignment self-join reads checkpointed partitions instead of
    // re-scoring the corpus against the centroids on both join sides.
    val ix = AnnEval.index(spark, dir)
    Similarity.bucketedNearDupPairsFromAssigned(ix.assignedMulti2, ix.emb,
        threshold = 0.4)
      .orderBy("a_id", "b_id")
  }

  val e02Oracle: String =
    s"""WITH $embCte,
       |cent AS (SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id < 8),
       |assign AS (SELECT vec_id, centroid_id FROM (
       |  SELECT e.vec_id, c.centroid_id,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${cosSql("e.v", "c.cv")} DESC, c.centroid_id) AS rn
       |  FROM e CROSS JOIN cent c) WHERE rn <= 2),
       |cand AS (SELECT DISTINCT l.vec_id AS a_id, r.vec_id AS b_id
       |  FROM assign l JOIN assign r
       |    ON l.centroid_id = r.centroid_id AND l.vec_id < r.vec_id)
       |SELECT a_id, b_id,
       |  round(${cosSql("le.v", "re.v")}, 6) AS cosine
       |FROM cand
       |JOIN e le ON le.vec_id = a_id
       |JOIN e re ON re.vec_id = b_id
       |WHERE ${cosSql("le.v", "re.v")} >= 0.4
       |ORDER BY a_id, b_id""".stripMargin

  def s01AnnBruteForce(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val query = e.filter(col("vec_id") === 0).select(col("vec").as("qvec"))
    Similarity.bruteForceTopK(e, query, k = 10, excludeId = Some(0L))
      .orderBy("rank")
  }

  val s01Oracle: String =
    s"""WITH $embCte, q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
       |SELECT * FROM (
       |  SELECT row_number() OVER (ORDER BY ${cosSql("e.v", "q.qv")} DESC, vec_id) AS rank,
       |         vec_id, round(${cosSql("e.v", "q.qv")}, 6) AS cosine
       |  FROM e, q WHERE e.vec_id <> 0)
       |WHERE rank <= 10 ORDER BY rank""".stripMargin

  /** IVF: assign to nearest of 8 fixed centroids; probe top-2 buckets. */
  def s02AnnIvf(spark: SparkSession, dir: String): DataFrame = {
    val ix = AnnEval.index(spark, dir)
    val query = {
      import spark.implicits._
      Seq(Tuple1(ix.query.toSeq)).toDF("qvec")
    }
    Similarity.ivfTopK(ix.assigned, ix.centroids, query, k = 10, nprobe = 2,
        excludeId = Some(0L))
      .orderBy("rank")
  }

  /** s02's IVF top-k served from the PERSISTED index
    * ([[graft.operators.AnnIndexStore]]): the session's artifacts land as
    * atomic lake tables, are loaded back, and the probe runs off the
    * LOADED assignment (vectors re-attached by key — the persisted table
    * is bytes-per-row; full-precision vectors stay in the corpus). Same
    * oracle as s02: persistence must be result-invisible.
    */
  def s16AnnPersistedIndex(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.AnnIndexStore
    val ix = AnnEval.index(spark, dir)
    CoreQueries.withTempDir(spark, "graft_s16") { rootPath =>
      val root = rootPath.toString
      AnnIndexStore.write(root, AnnIndexStore.Components(
        ix.centroids, ix.assigned, ix.assignedMulti2, ix.codes, ix.sigs))
      val loaded = AnnIndexStore.load(spark, root)
      val query = {
        import spark.implicits._
        Seq(Tuple1(ix.query.toSeq)).toDF("qvec")
      }
      // the probe result is LAZY over the loaded lake tables: the bracket
      // materializes before deleting the temp index root (and deletes it —
      // repeated bench sampling must not accumulate index copies under /tmp).
      // Indexed form: bucket-restrict the bytes-per-row assignment FIRST,
      // attach vectors to the shortlist only — the naive assigned⨝emb
      // compose pays a corpus-wide join per probe at lake scale
      Similarity.ivfTopKIndexed(loaded.assigned, ix.emb, loaded.centroids,
          query, k = 10, nprobe = 2, excludeId = Some(0L))
        .orderBy("rank")
    }
  }

  /** s02's answer served from an INCREMENTALLY GROWN persisted index:
    * the base build covers only part of the corpus, the rest arrives as
    * an ingest wave through [[graft.operators.AnnIndexStore.appendVectors]]
    * — assigned/encoded/signed against the PINNED persisted model
    * (centroids, PQ codebook, LSH hyperplanes, build params all loaded
    * from the store, none from this session) and appended as
    * batch-sized commits. Assignment is a pure per-row function of
    * (vector, pinned model), so the grown index must EXACTLY equal the
    * full-corpus build — same oracle as s02: incremental maintenance
    * must be result-invisible, the property that makes append (bytes ∝
    * batch) safe to prefer over the per-wave full rebuild (bytes ∝
    * corpus) on the 100 TB steady state.
    */
  def s17AnnIncrementalIndex(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.AnnIndexStore
    val ix = AnnEval.index(spark, dir)
    CoreQueries.withTempDir(spark, "graft_s17") { rootPath =>
      val root = rootPath.toString
      // base = everything but the wave; the wave is a spread of non-model
      // vectors (every third id past the centroid block)
      val isWave = col("vec_id") >= 8 && col("vec_id") % 3 === 0
      AnnIndexStore.write(root, AnnIndexStore.Components(
        ix.centroids,
        ix.assigned.filter(!isWave),
        ix.assignedMulti2.filter(!isWave),
        ix.codes.filter(!isWave),
        ix.sigs.filter(!isWave)))
      AnnIndexStore.writeModel(root, AnnIndexStore.Model(
        ix.codebookDf, ix.hyperplanesDf, nprobe = 2, numSub = 8))
      AnnIndexStore.appendVectors(root, ix.emb.filter(isWave))
      val loaded = AnnIndexStore.load(spark, root)
      val query = {
        import spark.implicits._
        Seq(Tuple1(ix.query.toSeq)).toDF("qvec")
      }
      Similarity.ivfTopKIndexed(loaded.assigned, ix.emb, loaded.centroids,
          query, k = 10, nprobe = 2, excludeId = Some(0L))
        .orderBy("rank")
    }
  }

  /** The STALENESS eval behind the append-vs-rebuild policy: what
    * [[graft.operators.AnnIndexStore.appendVectors]] can NOT refresh is
    * the model — centroids drift as the corpus grows. Here the base
    * index is deliberately built on STALE centroids (vectors 8–15), the
    * corpus grows through the real store+append path, and the probe's
    * recall@10 against brute-force truth is measured twice: the grown
    * pinned-model index vs a from-scratch rebuild on refreshed centroids
    * (the fixture rule, vectors 0–7). The recall delta is the number an
    * operator gates the "retrain + rewrite" decision on (the FAISS
    * re-train cadence), measured s07-style with an exact DuckDB oracle.
    */
  def s18AnnAppendStaleness(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.AnnIndexStore
    val ix = AnnEval.index(spark, dir)
    CoreQueries.withTempDir(spark, "graft_s18") { rootPath =>
      val root = rootPath.toString
      val stale = ix.emb.filter(col("vec_id").between(8, 15))
        .select(col("vec_id").as("centroid_id"), col("vec").as("cvec"))
        .localCheckpoint() // model-sized; consumed by assign + probe + append
      val isWave = col("vec_id") >= 16 && col("vec_id") % 3 === 0
      val base = ix.emb.filter(!isWave)
      // assignments must be built fresh against the STALE centroids; the
      // PQ codes and LSH sigs are functions of the (unchanged) codebook/
      // hyperplane model only, so the session index's checkpointed
      // artifacts ARE the base components — same values, no re-encode
      AnnIndexStore.write(root, AnnIndexStore.Components(
        stale,
        Similarity.ivfAssign(base, stale).select("vec_id", "centroid_id"),
        Similarity.ivfAssignMulti(base, stale, nprobe = 2),
        ix.codes.filter(!isWave),
        ix.sigs.filter(!isWave)))
      AnnIndexStore.writeModel(root, AnnIndexStore.Model(
        ix.codebookDf, ix.hyperplanesDf, nprobe = 2, numSub = 8))
      AnnIndexStore.appendVectors(root, ix.emb.filter(isWave))
      val loaded = AnnIndexStore.load(spark, root)
      val query = {
        import spark.implicits._
        Seq(Tuple1(ix.query.toSeq)).toDF("qvec")
      }
      // k-row results; checkpoint before the comparison joins (s07's
      // one-pass-per-index discipline). The three rankings are
      // independent READS of already-committed state (truth over the
      // session corpus, grown over the loaded store, rebuilt over the
      // session index), so they materialize concurrently (guide §2.6)
      // instead of paying three sequential action round-trips.
      val Seq(truth, grown, rebuilt) = Par.ckptAll(
        Similarity.bruteForceTopK(ix.emb, query, k = 10,
          excludeId = Some(0L)).select(col("vec_id")),
        Similarity.ivfTopKIndexed(loaded.assigned, ix.emb,
          loaded.centroids, query, k = 10, nprobe = 2, excludeId = Some(0L)),
        // the refreshed rebuild on the grown corpus IS the session's
        // fixture index (centroids 0–7 over all vectors)
        Similarity.ivfTopK(ix.assigned, ix.centroids, query,
          k = 10, nprobe = 2, excludeId = Some(0L)))
      def scoreOf(name: String, got: DataFrame): DataFrame =
        got.select(col("vec_id"))
          .join(truth.withColumn("hit", lit(1)), Seq("vec_id"), "left")
          .agg(count(lit(1)).as("n_retrieved"), count(col("hit")).as("n_hits"))
          .select(lit(name).as("method"), col("n_retrieved"), col("n_hits"),
            round(col("n_hits") * lit(1.0) / lit(10.0), 4).as("recall_at_10"))
      scoreOf("grown_pinned", grown)
        .unionByName(scoreOf("rebuilt_refreshed", rebuilt))
        .orderBy("method")
    }
  }

  /** MANIFEST-PINNED TIME TRAVEL (the round-17 store cut): capture the
    * store's cut version after the build, let the store move on — a
    * full [[graft.operators.AnnIndexStore.refreshIndex]] swaps the
    * model to deliberately DIFFERENT (stale, s18-style) centroids over
    * the same corpus — then serve the probe from
    * [[graft.operators.AnnIndexStore.loadAt]] at the captured cut. The
    * answer must be byte-identical to the ORIGINAL index's probe (s02's
    * oracle): a pinned cut is immune to every later swap, which is the
    * reproducible-eval contract (pin an index cut, re-run a recall eval
    * bit-identically) that previously required a rebuild. Serving the
    * CURRENT store here would bucket under the stale centroids and
    * return a different shortlist — the query fails if the pin leaks.
    */
  def s19AnnTimeTravel(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.AnnIndexStore
    val ix = AnnEval.index(spark, dir)
    CoreQueries.withTempDir(spark, "graft_s19") { rootPath =>
      val root = rootPath.toString
      AnnIndexStore.write(root, AnnIndexStore.Components(
        ix.centroids, ix.assigned, ix.assignedMulti2, ix.codes, ix.sigs))
      AnnIndexStore.writeModel(root, AnnIndexStore.Model(
        ix.codebookDf, ix.hyperplanesDf, nprobe = 2, numSub = 8))
      val cut = AnnIndexStore.currentCutVersion(spark, root).get
      // the store moves on: refresh to the s18 stale-centroid model
      // (vectors 8–15) over the same corpus — the CURRENT store now
      // serves a different shortlist than the pinned cut
      val stale = ix.emb.filter(col("vec_id").between(8, 15))
        .select(col("vec_id").as("centroid_id"), col("vec").as("cvec"))
        .localCheckpoint() // model-sized; assign + refresh inputs
      AnnIndexStore.refreshIndex(root, AnnIndexStore.Components(
        stale,
        Similarity.ivfAssign(ix.emb, stale).select("vec_id", "centroid_id"),
        Similarity.ivfAssignMulti(ix.emb, stale, nprobe = 2),
        ix.codes, ix.sigs),
        AnnIndexStore.Model(ix.codebookDf, ix.hyperplanesDf,
          nprobe = 2, numSub = 8))
      val pinned = AnnIndexStore.loadAt(spark, root, cut)
      val query = {
        import spark.implicits._
        Seq(Tuple1(ix.query.toSeq)).toDF("qvec")
      }
      Similarity.ivfTopKIndexed(pinned.assigned, ix.emb, pinned.centroids,
          query, k = 10, nprobe = 2, excludeId = Some(0L))
        .orderBy("rank")
    }
  }

  val s18Oracle: String =
    s"""WITH $embCte,
       |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
       |truth AS (SELECT vec_id FROM (
       |  SELECT vec_id, row_number() OVER (
       |    ORDER BY ${cosSql("e.v", "q.qv")} DESC, vec_id) AS rank
       |  FROM e, q WHERE e.vec_id <> 0) WHERE rank <= 10),
       |scent AS (SELECT vec_id AS centroid_id, v AS cv FROM e
       |          WHERE vec_id BETWEEN 8 AND 15),
       |fcent AS (SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id < 8),
       |sassign AS (SELECT vec_id, centroid_id FROM (
       |  SELECT e.vec_id, c.centroid_id,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${cosSql("e.v", "c.cv")} DESC, c.centroid_id) AS rn
       |  FROM e CROSS JOIN scent c) WHERE rn = 1),
       |fassign AS (SELECT vec_id, centroid_id FROM (
       |  SELECT e.vec_id, c.centroid_id,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${cosSql("e.v", "c.cv")} DESC, c.centroid_id) AS rn
       |  FROM e CROSS JOIN fcent c) WHERE rn = 1),
       |sprobed AS (SELECT centroid_id FROM (
       |  SELECT c.centroid_id, row_number() OVER (
       |    ORDER BY ${cosSql("c.cv", "q.qv")} DESC, c.centroid_id) AS crank
       |  FROM scent c, q) WHERE crank <= 2),
       |fprobed AS (SELECT centroid_id FROM (
       |  SELECT c.centroid_id, row_number() OVER (
       |    ORDER BY ${cosSql("c.cv", "q.qv")} DESC, c.centroid_id) AS crank
       |  FROM fcent c, q) WHERE crank <= 2),
       |grown AS (SELECT vec_id FROM (
       |  SELECT e.vec_id, row_number() OVER (
       |    ORDER BY ${cosSql("e.v", "q.qv")} DESC, e.vec_id) AS rank
       |  FROM e JOIN (SELECT a.vec_id FROM sassign a JOIN sprobed p
       |               USING (centroid_id) WHERE a.vec_id <> 0) cand
       |    USING (vec_id), q) WHERE rank <= 10),
       |rebuilt AS (SELECT vec_id FROM (
       |  SELECT e.vec_id, row_number() OVER (
       |    ORDER BY ${cosSql("e.v", "q.qv")} DESC, e.vec_id) AS rank
       |  FROM e JOIN (SELECT a.vec_id FROM fassign a JOIN fprobed p
       |               USING (centroid_id) WHERE a.vec_id <> 0) cand
       |    USING (vec_id), q) WHERE rank <= 10),
       |scored AS (
       |  SELECT 'grown_pinned' AS method, count(*) AS n_retrieved,
       |    count(t.vec_id) AS n_hits
       |  FROM grown g LEFT JOIN truth t ON g.vec_id = t.vec_id
       |  UNION ALL
       |  SELECT 'rebuilt_refreshed', count(*), count(t.vec_id)
       |  FROM rebuilt g LEFT JOIN truth t ON g.vec_id = t.vec_id)
       |SELECT method, n_retrieved, n_hits,
       |  round(n_hits*1.0/10.0, 4) AS recall_at_10
       |FROM scored ORDER BY method""".stripMargin

  val s02Oracle: String =
    s"""WITH $embCte,
       |cent AS (SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id < 8),
       |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
       |assign AS (SELECT vec_id, centroid_id FROM (
       |  SELECT e.vec_id, c.centroid_id,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${cosSql("e.v", "c.cv")} DESC, c.centroid_id) AS rn
       |  FROM e CROSS JOIN cent c) WHERE rn = 1),
       |probed AS (SELECT centroid_id FROM (
       |  SELECT c.centroid_id,
       |    row_number() OVER (ORDER BY ${cosSql("c.cv", "q.qv")} DESC, c.centroid_id) AS crank
       |  FROM cent c, q) WHERE crank <= 2),
       |cand AS (SELECT a.vec_id FROM assign a JOIN probed p USING (centroid_id)
       |         WHERE a.vec_id <> 0)
       |SELECT * FROM (
       |  SELECT row_number() OVER (ORDER BY ${cosSql("e.v", "q.qv")} DESC, e.vec_id) AS rank,
       |         e.vec_id, round(${cosSql("e.v", "q.qv")}, 6) AS cosine
       |  FROM e JOIN cand USING (vec_id), q)
       |WHERE rank <= 10 ORDER BY rank""".stripMargin

  /** Random-hyperplane LSH ANN: 4 hyperplanes (vectors 1–4) → 16 buckets;
    * query 0 scores only its own bucket.
    */
  def s03AnnHyperplane(spark: SparkSession, dir: String): DataFrame = {
    val ix = AnnEval.index(spark, dir)
    Similarity.lshTopKIndexed(ix.emb, ix.sigs, queryId = 0L, k = 10)
      .orderBy("rank")
  }

  val s03Oracle: String =
    s"""WITH $embCte,
       |hp AS (SELECT vec_id - 1 AS hp_id, v AS hvec FROM e
       |       WHERE vec_id BETWEEN 1 AND 4),
       |sigs AS (SELECT e.vec_id,
       |    CAST(sum(CASE WHEN ${cosSql("e.v", "hp.hvec")} >= 0
       |                  THEN (1::BIGINT << CAST(hp.hp_id AS INT)) ELSE 0 END)
       |         AS BIGINT) AS bucket_sig
       |  FROM e CROSS JOIN hp GROUP BY e.vec_id),
       |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
       |qsig AS (SELECT bucket_sig AS q_sig FROM sigs WHERE vec_id = 0),
       |cand AS (SELECT s.vec_id FROM sigs s, qsig
       |         WHERE s.bucket_sig = qsig.q_sig AND s.vec_id <> 0)
       |SELECT * FROM (
       |  SELECT row_number() OVER (ORDER BY ${cosSql("e.v", "q.qv")} DESC, e.vec_id) AS rank,
       |         e.vec_id, round(${cosSql("e.v", "q.qv")}, 6) AS cosine
       |  FROM e JOIN cand USING (vec_id), q)
       |WHERE rank <= 10 ORDER BY rank""".stripMargin

  // -------------------------------------------------------- text analysis


  def t01LangId(spark: SparkSession, dir: String): DataFrame =
    TextFns.langIdFromWords(
        docs(spark, dir).select(col("doc_id"), col("lang"),
          TextFns.words(col("text")).as("__ws")),
        "__ws", "pred_lang")
      .select(col("doc_id"), col("pred_lang"),
        col("lang").as("labeled_lang"))
      .withColumn("is_match", col("pred_lang") === col("labeled_lang"))
      .orderBy("doc_id")

  val t01Oracle: String = {
    val scores = Seq("de", "en", "es", "fr").map { l =>
      s"len(list_filter(regexp_split_to_array(text, '\\s+'), w -> list_contains(${sqlList(TextFns.stopwords(l))}, w))) AS s_$l"
    }.mkString(", ")
    s"""WITH s AS (SELECT doc_id, lang, $scores FROM documents)
       |SELECT doc_id,
       |  CASE WHEN coalesce(s_de + s_en + s_es + s_fr, 0) = 0 THEN 'und'
       |       WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
       |       WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
       |       WHEN s_es >= s_fr THEN 'es' ELSE 'fr' END AS pred_lang,
       |  lang AS labeled_lang,
       |  (CASE WHEN coalesce(s_de + s_en + s_es + s_fr, 0) = 0 THEN 'und'
       |        WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
       |        WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
       |        WHEN s_es >= s_fr THEN 'es' ELSE 'fr' END) = lang AS is_match
       |FROM s ORDER BY doc_id""".stripMargin
  }

  def t02Quality(spark: SparkSession, dir: String): DataFrame = {
    // token array staged once (HOF subtrees are CSE-exempt — see
    // TextFns.langIdFromWords); every stat below reads the materialized
    // __ws attribute instead of re-splitting the text
    val ws = col("__ws")
    val allStop = TextFns.stopwords.values.flatten.toSeq.distinct.sorted
    val nTokens = size(ws)
    val sumLen = aggregate(ws, lit(0), (acc, w) => acc + length(w))
    val hits = TextFns.stopwordHits(ws, allStop)
    val stopRatioRaw = hits * lit(1.0) / nTokens
    // zero-token docs: the ratio columns are NULL (double 0.0/0.0 would
    // be NaN here vs DuckDB's divide-by-zero NULL — a latent hash
    // divergence), and the composite score is an explicit 0.0 (the
    // qualityScore guard; see TextFns)
    val guard = nTokens === 0
    docs(spark, dir)
      .select(col("doc_id"), TextFns.words(col("text")).as("__ws"))
      .select(
        col("doc_id"), nTokens.as("n_tokens"),
        when(guard, lit(null).cast("double"))
          .otherwise(round(sumLen * lit(1.0) / nTokens, 4)).as("avg_token_len"),
        when(guard, lit(null).cast("double"))
          .otherwise(round(stopRatioRaw, 4)).as("stop_ratio"),
        TextFns.qualityScoreFromWords(ws).as("quality_score"))
      .orderBy("doc_id")
  }

  val t02Oracle: String = {
    val allStop = sqlList(TextFns.stopwords.values.flatten.toSeq.distinct.sorted)
    s"""WITH t AS (SELECT doc_id,
       |  list_filter(regexp_split_to_array(text, '\\s+'), w -> length(w) > 0) AS ws
       |  FROM documents),
       |m AS (SELECT doc_id, len(ws) AS n_tokens,
       |  list_sum(list_transform(ws, w -> length(w))) AS sum_len,
       |  len(list_filter(ws, w -> list_contains($allStop, w))) AS hits FROM t)
       |SELECT doc_id, n_tokens,
       |  round(sum_len * 1.0 / n_tokens, 4) AS avg_token_len,
       |  round(hits * 1.0 / n_tokens, 4) AS stop_ratio,
       |  CASE WHEN n_tokens = 0 THEN 0.0
       |    ELSE round(least(n_tokens / 100.0, 1.0) * 0.5 + (hits * 1.0 / n_tokens) * 0.5, 4)
       |  END AS quality_score
       |FROM m ORDER BY doc_id""".stripMargin
  }

  /** Token counting: whitespace tokens + a BPE-ish regex segmentation
    * (letter runs / digit runs / single punctuation marks). All three
    * counters come from ONE native code-point scan
    * ([[graft.plans.TokenCounts]]) — the regex form materialized every
    * match and a punctuation-stripped document copy per row just to take
    * lengths (TokenStatsSpec holds the two equal).
    */
  def t03Tokens(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graft.{Bridge => B}
    docs(spark, dir)
      .select(col("doc_id"),
        B.column(graft.plans.TokenCounts(B.expression(col("text")))).as("tc"))
      .select(col("doc_id"), col("tc.n_ws_tokens").as("n_ws_tokens"),
        col("tc.n_bpe_tokens").as("n_bpe_tokens"),
        col("tc.n_punct").as("n_punct"))
      .orderBy("doc_id")
  }

  val t03Oracle: String =
    """SELECT doc_id,
      |  len(list_filter(regexp_split_to_array(text, '\s+'), w -> length(w) > 0)) AS n_ws_tokens,
      |  len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS n_bpe_tokens,
      |  length(regexp_replace(text, '[a-z0-9\s]', '', 'g')) AS n_punct
      |FROM documents ORDER BY doc_id""".stripMargin

  def t04Fingerprint(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(
        col("doc_id"), TextFns.fingerprint(col("text")).as("fingerprint"),
        size(array_distinct(TextFns.words(col("text")))).as("n_distinct_words"))
      .orderBy("doc_id")

  val t04Oracle: String =
    """SELECT doc_id,
      |  md5(array_to_string(list_sort(list_distinct(
      |    list_filter(regexp_split_to_array(text, '\s+'), w -> length(w) > 0))), ' '))
      |    AS fingerprint,
      |  len(list_distinct(list_filter(regexp_split_to_array(text, '\s+'), w -> length(w) > 0)))
      |    AS n_distinct_words
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Deterministic hash-based train/validation/test split — the standard
    * reshuffle-proof dataset partitioning (split = f(content), not
    * f(row order)): md5-derived 28-bit hash mod 100 → 80/10/10.
    */
  def d07SplitAssign(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .withColumn("bucket", TextFns.hash28(col("text")) % 100)
      .withColumn("split",
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "validation")
          .otherwise("test"))
      .groupBy("split", "lang")
      .agg(count(lit(1)).as("n"))
      .orderBy("split", "lang")

  val d07Oracle: String =
    """WITH assigned AS (
      |  SELECT lang,
      |    CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'validation'
      |         ELSE 'test' END AS split
      |  FROM (SELECT lang,
      |          ('0x' || substr(md5(text), 1, 7))::BIGINT % 100 AS b
      |        FROM documents))
      |SELECT split, lang, count(*) AS n FROM assigned
      |GROUP BY 1, 2 ORDER BY split, lang""".stripMargin

  /** Cross-split contamination check: test documents whose canonical
    * fingerprint (order/repetition-invariant token-set hash) also appears
    * in train — the leakage detector run before training. Semi-join on the
    * fingerprint.
    */
  def d08Contamination(spark: SparkSession, dir: String): DataFrame = {
    // fingerprint (array_sort over the token split — the query's dominant
    // per-row cost) computed ONCE and materialized: its three consumers
    // (the Bloom build over train, the exact semi-join's right side, the
    // held_out probe side) each re-ran the full fingerprint pass
    // otherwise — measured 31 s of task time for a ~10 s query (round-21
    // profile), i.e. the corpus was fingerprinted 3×
    val d = docs(spark, dir)
      .select(col("doc_id"), TextFns.fingerprint(col("text")).as("fp"),
        when(TextFns.hash28(col("text")) % 100 < 80, "train")
          .otherwise("held_out").as("split"))
      .localCheckpoint()
    val train = d.filter(col("split") === "train").select("fp").distinct()
    val heldOut = d.filter(col("split") === "held_out")
    // train is ~80% of the corpus's distinct fingerprints — corpus-scale, so
    // never force-broadcast it. Two-phase membership instead: an O(bits)
    // Bloom sketch of train resolves the (overwhelmingly clean) majority of
    // held_out scan-side with zero shuffle; only Bloom-positive candidates
    // reach the exact semi-join, which is left unhinted so AQE picks
    // broadcast only when the side actually fits. Sketch capacity tracks
    // the corpus (doc count off the materialized pass, and distinct train
    // fps ≤ docs), so the false-positive rate — and with it the candidate
    // volume hitting the exact join — stays put as the lake grows.
    val expected = math.max(1000L, d.count())
    val bf = Bloom.build(train, col("fp"), expectedItems = expected,
      numBits = 8L * expected)
    heldOut.filter(Bloom.mightContain(bf, col("fp")))
      .join(train, Seq("fp"), "left_semi")
      .select(col("doc_id"), col("fp"))
      .orderBy("doc_id")
  }

  val d08Oracle: String =
    """WITH d AS (
      |  SELECT doc_id,
      |    md5(array_to_string(list_sort(list_distinct(
      |      list_filter(regexp_split_to_array(text, '\s+'), w -> length(w) > 0))), ' ')) AS fp,
      |    CASE WHEN ('0x' || substr(md5(text), 1, 7))::BIGINT % 100 < 80
      |         THEN 'train' ELSE 'held_out' END AS split
      |  FROM documents)
      |SELECT doc_id, fp FROM d
      |WHERE split = 'held_out'
      |  AND fp IN (SELECT fp FROM d WHERE split = 'train')
      |ORDER BY doc_id""".stripMargin

  /** Statistical LM scoring: corpus-unigram negative log-likelihood per
    * document (the perplexity-style quality signal of training-data
    * pipelines). The frequency table is built from the corpus itself
    * (map-side-combined groupBy) and joined back UNHINTED — vocabulary
    * grows with the corpus (Heaps' law), so forcing a broadcast would OOM
    * at web scale; AQE broadcasts only when the table actually fits. The
    * token total comes from the vocab-sized freq table (one sum), not a
    * second full pass over the explode. Per-term −ln p is rounded into
    * decimal(18,10) BEFORE summing so the aggregation is order-independent
    * and engine-exact.
    */
  def t05UnigramLogprob(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val words = d.select(col("doc_id"),
      explode(TextFns.words(col("text"))).as("w"))
    // vocab-sized, materialized ONCE: both consumers (the total and the
    // join) would otherwise each re-run the corpus-wide explode+groupBy
    val freq = words.groupBy("w").agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val total = freq.agg(sum("cnt")).head().getLong(0)
    words.join(freq, "w")
      .withColumn("nll",
        (-log(col("cnt") * lit(1.0) / lit(total.toDouble)))
          .cast("decimal(18,10)"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        (sum(col("nll")).cast("double") / count(lit(1))).as("avg_nll"))
      .orderBy("doc_id")
  }

  val t05Oracle: String =
    """WITH words AS (
      |  SELECT doc_id, unnest(list_filter(regexp_split_to_array(text, '\s+'),
      |                                    w -> length(w) > 0)) AS w
      |  FROM documents),
      |freq AS (SELECT w, count(*) AS cnt FROM words GROUP BY w),
      |total AS (SELECT count(*) AS t FROM words)
      |SELECT doc_id, count(*) AS n_tokens,
      |  CAST(sum(CAST(-ln(cnt * 1.0 / t) AS DECIMAL(18,10))) AS DOUBLE)
      |    / count(*) AS avg_nll
      |FROM words JOIN freq USING (w), total
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Corpus length-distribution stats per source: exact decimal moments
    * (mean/stddev from exact sums — no fp-order dependence) + interpolated
    * median.
    */
  def t06LengthStats(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).groupBy("source")
      .agg(
        count(lit(1)).as("n"),
        sum(col("n_chars").cast("decimal(18,0)")).as("s1"),
        sum((col("n_chars") * col("n_chars")).cast("decimal(28,0)")).as("s2"),
        expr("percentile(n_chars, 0.5)").as("median_chars"))
      .select(col("source"), col("n"),
        (col("s1").cast("double") / col("n")).as("mean_chars"),
        sqrt((col("s2").cast("double") -
          col("s1").cast("double") * col("s1").cast("double") / col("n")) /
          (col("n") - 1)).as("stddev_chars"),
        col("median_chars"))
      .orderBy("source")

  val t06Oracle: String =
    """SELECT source, count(*) AS n,
      |  CAST(sum(CAST(n_chars AS DECIMAL(18,0))) AS DOUBLE) / count(*) AS mean_chars,
      |  sqrt((CAST(sum(CAST(n_chars * n_chars AS DECIMAL(28,0))) AS DOUBLE)
      |        - CAST(sum(CAST(n_chars AS DECIMAL(18,0))) AS DOUBLE)
      |          * CAST(sum(CAST(n_chars AS DECIMAL(18,0))) AS DOUBLE) / count(*))
      |       / (count(*) - 1)) AS stddev_chars,
      |  quantile_cont(n_chars, 0.5) AS median_chars
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  // ----------------------------------------------------------- multimodal

  /** Multimodal plumbing: opaque binary payload + typed metadata + cheap
    * deterministic "features" (byte length, content hash, head bytes). The
    * decode stage itself is [[Multimodal.extractFeatures]] (mapPartitions,
    * stubbed decoder) covered by ScalaTest.
    */
  def m01Multimodal(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(
        col("doc_id"),
        lit("image/png").as("media_type"),
        octet_length(encode(col("text"), "UTF-8")).as("n_bytes"),
        (col("n_chars") % 640).cast("int").as("width"),
        (col("n_chars") % 480).cast("int").as("height"),
        md5(col("text")).as("content_md5"),
        lower(hex(encode(substring(col("text"), 1, 8), "UTF-8"))).as("head_hex"))
      .orderBy("doc_id")

  val m01Oracle: String =
    """SELECT doc_id, 'image/png' AS media_type,
      |  octet_length(encode(text)) AS n_bytes,
      |  CAST(n_chars % 640 AS INT) AS width,
      |  CAST(n_chars % 480 AS INT) AS height,
      |  md5(text) AS content_md5,
      |  lower(hex(encode(substr(text, 1, 8)))) AS head_hex
      |FROM documents ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------ streaming

  def st01StreamWindow(spark: SparkSession, dir: String): DataFrame =
    Streams.windowedEventCounts(
      Lake.spread(Lake.table(spark, dir, "events"), col("event_id")))
      .orderBy("window_start", "event_type")

  val st01Oracle: String =
    """SELECT time_bucket(INTERVAL 5 MINUTE, ts) AS window_start, event_type,
      |  count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin

  /** Streaming-dedup semantics, batch form: exact duplicate drop by key
    * over a doubled input (the streaming variant —
    * `dropDuplicatesWithinWatermark` — is covered by StreamingSpec).
    */
  def st03StreamDedup(spark: SparkSession, dir: String): DataFrame = {
    val ev = Lake.table(spark, dir, "events").select("event_id", "event_type")
    ev.union(ev).dropDuplicates("event_id")
      .groupBy("event_type").agg(count(lit(1)).as("n"))
      .orderBy("event_type")
  }

  val st03Oracle: String =
    """SELECT event_type, count(*) AS n FROM (
      |  SELECT DISTINCT event_id, event_type FROM (
      |    SELECT event_id, event_type FROM events
      |    UNION ALL
      |    SELECT event_id, event_type FROM events))
      |GROUP BY 1 ORDER BY event_type""".stripMargin

  /** As-of join (temporal): for each purchase, the latest PRECEDING view
    * by the same user — composed from built-ins as a sorted window with
    * `last(..., ignoreNulls)` over an unbounded-preceding frame (preference
    * order (a) of the build brief: compose before custom operators). One
    * shuffle on user_id; no range join blow-up.
    */
  def st04AsofJoin(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // spread keyed on the window's partition key (user_id): the as-of
    // window then reuses the spread's exchange — one shuffle of the
    // event rows, not two (the q13 rule)
    val ev = Lake.spread(Lake.table(spark, dir, "events"), col("user_id"))
      .filter(col("event_type").isin("view", "purchase"))
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    ev.withColumn("prev_view_ts",
        last(when(col("event_type") === "view", col("ts")), ignoreNulls = true)
          .over(w))
      .filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts", "prev_view_ts")
      .orderBy("event_id")
  }

  val st04Oracle: String =
    """SELECT event_id, user_id, ts, prev_view_ts FROM (
      |  SELECT event_id, user_id, ts, event_type,
      |    last_value(CASE WHEN event_type = 'view' THEN ts END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |      AS prev_view_ts
      |  FROM events WHERE event_type IN ('view', 'purchase'))
      |WHERE event_type = 'purchase'
      |ORDER BY event_id""".stripMargin

  def st02Sessionize(spark: SparkSession, dir: String): DataFrame =
    // spread keyed on the sessionize window's partition key (user_id):
    // the lag/running-sum window AND the per-session aggregate both
    // reuse the spread's exchange (hashpartitioning(user_id) satisfies
    // ClusteredDistribution(user_id) and (user_id, session_id)) — one
    // shuffle of the event rows instead of two (the q13 rule)
    Streams.sessionize(
      Lake.spread(Lake.table(spark, dir, "events"), col("user_id")),
      gapMinutes = 30)
      .orderBy("user_id", "session_id")

  val st02Oracle: String =
    """WITH x AS (SELECT user_id, event_id, ts,
      |  lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
      |  FROM events),
      |y AS (SELECT user_id, event_id, ts,
      |  CASE WHEN prev_us IS NULL OR epoch_us(ts) - prev_us >= 1800000000
      |       THEN 1 ELSE 0 END AS new_sess FROM x),
      |z AS (SELECT user_id, ts,
      |  CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id FROM y)
      |SELECT user_id, session_id, count(*) AS n_events,
      |  min(ts) AS session_start, max(ts) AS session_end
      |FROM z GROUP BY 1, 2 ORDER BY user_id, session_id""".stripMargin

  val defs: Seq[(String, Q, Option[String])] = Seq(
    ("d01_dedup_exact", d01DedupExact _, Some(d01Oracle)),
    ("d02_minhash_sig", d02MinhashSig _, Some(d02Oracle)),
    ("d03_lsh_pipeline", d03LshPipeline _, Some(d03Oracle)),
    ("d04_jaccard_pairs", d04JaccardPairs _, Some(d04Oracle)),
    ("d16_containment", d16ContainmentPairs _, Some(d16Oracle)),
    ("d05_simhash", d05Simhash _, Some(d05Oracle)),
    ("d06_simhash_pairs", d06SimhashPairs _, Some(d06Oracle)),
    ("d28_persisted_sig_index", d28PersistedSigIndex _, Some(d06Oracle)),
    ("d07_split_assign", d07SplitAssign _, Some(d07Oracle)),
    ("d08_contamination", d08Contamination _, Some(d08Oracle)),
    ("e01_embed_neardup", e01EmbedNearDup _, Some(e01Oracle)),
    ("e02_embed_neardup_bucketed", e02EmbedNearDupBucketed _, Some(e02Oracle)),
    ("s01_ann_topk", s01AnnBruteForce _, Some(s01Oracle)),
    ("s02_ann_ivf", s02AnnIvf _, Some(s02Oracle)),
    ("s16_ann_persisted_index", s16AnnPersistedIndex _, Some(s02Oracle)),
    ("s17_ann_incremental_index", s17AnnIncrementalIndex _, Some(s02Oracle)),
    ("s18_ann_append_staleness", s18AnnAppendStaleness _, Some(s18Oracle)),
    ("s19_ann_time_travel", s19AnnTimeTravel _, Some(s02Oracle)),
    ("s03_ann_hyperplane", s03AnnHyperplane _, Some(s03Oracle)),
    ("t01_langid", t01LangId _, Some(t01Oracle)),
    ("t02_quality", t02Quality _, Some(t02Oracle)),
    ("t03_tokens", t03Tokens _, Some(t03Oracle)),
    ("t04_fingerprint", t04Fingerprint _, Some(t04Oracle)),
    ("t05_unigram_logprob", t05UnigramLogprob _, Some(t05Oracle)),
    ("t06_length_stats", t06LengthStats _, Some(t06Oracle)),
    ("m01_multimodal", m01Multimodal _, Some(m01Oracle)),
    ("st01_stream_window", st01StreamWindow _, Some(st01Oracle)),
    ("st02_sessionize", st02Sessionize _, Some(st02Oracle)),
    ("st03_stream_dedup", st03StreamDedup _, Some(st03Oracle)),
    ("st04_asof_join", st04AsofJoin _, Some(st04Oracle)))
}
