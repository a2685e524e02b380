package graft.queries

import graft.{QueryDef, Tables}
import graft.functions.{GraftFunctions, MinHash}
import graft.iceberg.IcebergScan
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication + similarity-search operators for a training-data
  * pipeline: exact-hash dedup, MinHash+LSH banding, SimHash,
  * candidate-verify Jaccard, duplicate-cluster assignment by label
  * propagation, embedding cosine near-dup, and ANN top-k three ways
  * (exact brute force, hyperplane-LSH buckets, IVF centroid cells).
  *
  * Cross-engine determinism: all hashes are md5 hex strings (identical in
  * Spark and DuckDB); dot products are SEQUENTIAL double folds over the
  * array columns — the fold order is fixed, so Spark's aggregate/zip_with
  * and DuckDB's list_reduce/list_zip produce bit-identical doubles — and
  * final cosines are rounded to 4 dp.
  */
object DedupQueries {

  private def toks: Column = array_distinct(split(trim(col("text")), "\\s+"))

  /** 16 MinHash values per document, over its distinct word bigrams. */
  private val NumHashes = 16
  private val RowsPerBand = 4
  private val NumBands = NumHashes / RowsPerBand

  // ---- Random-hyperplane LSH infrastructure (d05 / a02) -----------------
  //
  // 16 deterministic hyperplanes over the 64-dim embedding space, integer
  // coordinates in [-99, 99] (sign(h·x) is scale-invariant, and integer
  // literals are bit-exact in every engine). The SAME values are embedded
  // as literals in the Spark plan and in the DuckDB oracle SQL, and every
  // hyperplane dot product is the same sequential double fold on both
  // engines — so they derive identical sign signatures and therefore
  // identical candidate sets.
  private val NumPlanes = 16
  private val EmbDim = 64
  private val Planes: Array[Array[Int]] = {
    val r = new scala.util.Random(7)
    Array.fill(NumPlanes, EmbDim)(r.nextInt(199) - 99)
  }

  /** Dot product of two numeric array columns as a SEQUENTIAL double
    * fold: per-element double multiply, then a left fold from 0.0. The
    * array order is fixed and per-element IEEE double ops are
    * bit-identical across engines, so this equals DuckDB's
    * `list_reduce(list_prepend(0.0, ...))` left fold bit-for-bit.
    * Backed by [[graft.functions.DotProduct]], a codegen'd Catalyst
    * expression (a zip_with+aggregate formulation computes the same
    * value but outside whole-stage codegen, allocating per element).
    * Builders using it must call GraftSql.register(session) first. */
  private def dotDbl(a: Column, b: Column): Column =
    call_function("graft_dot", a, b)

  /** The same fold in DuckDB SQL over DOUBLE[] columns `a` and `b`. */
  private def dotDblSql(a: String, b: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list_transform(list_zip($a, $b), s -> s[1] * s[2])), (p, q) -> p + q)"""

  /** Sign bits of the 16 hyperplane dots for the `embedding` column. */
  private def planeBits: Seq[Column] =
    (0 until NumPlanes).map { j =>
      val h = array(Planes(j).map(lit).toIndexedSeq: _*)
      when(dotDbl(col("embedding"), h) >= 0, "1").otherwise("0")
    }

  /** Oracle-side hyperplane lists: hl(j, w) with w a 64-element DOUBLE[]. */
  private def planeListsSql: String =
    Planes.zipWithIndex.map { case (row, j) =>
      s"($j, CAST([${row.mkString(",")}] AS DOUBLE[]))"
    }.mkString(",")

  /** Shared oracle CTE prefix: embeddings as DOUBLE[], per-plane sign bits
    * and squared norms via the same sequential double folds as Spark. */
  private def planeBitsSql: String =
    s"""hl(j, w) AS (VALUES ${planeListsSql}),
        emb AS (
          SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
          FROM embeddings),
        bits AS (
          SELECT emb.vec_id, hl.j,
                 CASE WHEN ${dotDblSql("emb.e", "hl.w")} >= 0
                      THEN '1' ELSE '0' END AS bit
          FROM emb, hl),
        norms AS (
          SELECT vec_id, ${dotDblSql("e", "e")} AS nn
          FROM emb)"""

  /** Oracle CTE prefix for IVF: embeddings as DOUBLE[] + squared norms
    * (no hyperplane machinery). */
  private def embNormsSql: String =
    s"""embn AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
          FROM embeddings),
        norms AS (
          SELECT vec_id, ${dotDblSql("e", "e")} AS nn
          FROM embn)"""

  /** Bigram-MinHash-LSH band signatures of a `documents`-shaped frame:
    * one (doc_id, b, sig) row per band — the persistable LSH index unit
    * (d07 materializes it as an Iceberg table). Word bigrams, because
    * unigrams over the synthetic tiny vocabulary collide so much that LSH
    * bands select ~90% of all pairs.
    *
    * One narrow projection per document: `graft_shingle_hashes` md5s each
    * distinct bigram once into a 60-bit integer and `graft_minhash` folds
    * those into the 16 MinHash values ([[graft.functions.MinHash]]), so
    * the pipeline has no explode, no lambda and no shuffle before the
    * bands' `posexplode`. A document with fewer than two tokens has no
    * bigram and no bands. `doc_id` must be unique (every caller's frame
    * is a filter of `documents`): rows are not grouped by it. Builders
    * call `GraftFunctions.register(session)` first. */
  private[queries] def minhashBands(docs: DataFrame): DataFrame = {
    val mh = docs
      .select(col("doc_id"), call_function("graft_minhash",
        call_function("graft_shingle_hashes", split(trim(col("text")), "\\s+"), lit(2)),
        lit(NumHashes)).as("mh"))
      .filter(col("mh").isNotNull)
    val bandSigs = (0 until NumBands).map { b =>
      md5(concat_ws("|",
        (0 until RowsPerBand).map(r => col("mh").getItem(RowsPerBand * b + r).cast("string")): _*)
        .cast("binary"))
    }
    mh.select(col("doc_id"),
      posexplode(array(bandSigs: _*)).as(Seq("b", "sig")))
  }

  /** Shared bigram-MinHash-LSH candidate pairs (doc_a < doc_b) of a
    * `documents`-shaped frame, the candidate generator behind d02/d04/d06.
    * Callers pass the frame they already loaded, so a query reads
    * `documents` (and runs its schema-inference job) once.
    *
    * Round 19 (guide §2.4/§3.1): the self-join is pinned to a SHUFFLED
    * HASH join on (b, sig). Unhinted, the planner broadcast one side —
    * which (a) re-computed the whole shingle→md5→minhash pipeline for
    * BOTH join inputs (a BroadcastExchange subtree never matches the
    * streamed side, so nothing is reused), and (b) would broadcast a
    * corpus-sized band table at 100 TB (bands = 4 rows per document —
    * far past the 8 GB broadcast cap). With both sides shuffled by
    * (b, sig) the two subtrees are plan-identical, so AQE's exchange
    * reuse computes the band pipeline ONCE and reads the shuffle twice
    * (the executed plan carries a ReusedExchange — halving the dominant
    * map-side work), and per-partition hash build keeps memory bounded
    * by one LSH-bucket partition at any scale. */
  private[queries] def minhashCandidates(docs: DataFrame): DataFrame = {
    val bands = minhashBands(docs).hint("shuffle_hash")
    bands.as("a").join(bands.as("c"),
        col("a.b") === col("c.b") && col("a.sig") === col("c.sig") &&
        col("a.doc_id") < col("c.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("c.doc_id").as("doc_b"))
      .distinct()
  }

  /** The same candidate generator as oracle CTEs ending in `cand`. */
  private[queries] val minhashCandSql: String = s"""
        tok AS (
          SELECT doc_id, unnest(list_distinct(list_transform(
                   range(1, len(regexp_split_to_array(trim(text), '\\s+'))),
                   i -> regexp_split_to_array(trim(text), '\\s+')[i] || ' '
                        || regexp_split_to_array(trim(text), '\\s+')[i + 1]))) AS w
          FROM documents),
        hsh AS (
          SELECT doc_id,
                 ('0x' || substring(md5(w), 1, 15))::BIGINT % ${MinHash.P} AS h
          FROM tok),
        mh AS (
          SELECT doc_id, i, MIN((h * (2 * i + 1)) % ${MinHash.P}) AS mh
          FROM hsh, range($NumHashes) t(i)
          GROUP BY doc_id, i),
        band AS (
          SELECT doc_id, i // $RowsPerBand AS b,
                 md5(string_agg(CAST(mh AS VARCHAR), '|' ORDER BY i)) AS sig
          FROM mh GROUP BY doc_id, i // $RowsPerBand),
        cand AS (
          SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
          FROM band a JOIN band c
            ON a.b = c.b AND a.sig = c.sig AND a.doc_id < c.doc_id)"""

  /** Min-label propagation over an undirected edge set (`s`,`d` columns;
    * both directions present). Preconditions: `labels0.doc_id` is unique
    * and every edge endpoint is a `labels0.doc_id`. Under them, one
    * self-loop (doc_id, doc_id) per `labels0` row makes a round
    * `edges ⋈ labels_k on d = doc_id → groupBy(s) min(label)`, equal to
    * `least(label, coalesce(nmin, label))` over a left join with the
    * neighbors' minimum, and each generation is referenced ONCE. Both
    * modes run that round.
    *
    * `fixpoint = false` (exactly `maxRounds` rounds, the oracle-pinned
    * d06 semantics; the unrolled CTEs mirror the count): the rounds chain
    * LAZILY into one plan (one job, no cached generation to leak) with
    * every join pinned SHUFFLE_HASH. The plan grows by one join, one
    * aggregate and one edge-set copy per round; AQE exchange reuse
    * shuffles the edges once. A round that referenced its generation
    * twice would double the plan per round: exchange reuse still runs
    * each generation once, but Catalyst and AQE walk every copy.
    *
    * `fixpoint = true` (stop when a round changes no label — true
    * connected components for any diameter, bounded by `maxRounds`):
    * inherently iterative, so each generation IS materialized
    * (persist+count) and the superseded one unpersisted — an iterative
    * job that pins every generation leaks executor storage linearly in
    * rounds. labels0 itself is never persisted: every caller's
    * generation-0 is a trivial projection of a base table. */
  private[queries] def propagate(
      labels0: DataFrame, edges0: DataFrame,
      fixpoint: Boolean, maxRounds: Int): DataFrame = {
    val loops = labels0.select(col("doc_id").as("s"), col("doc_id").as("d"))
    val edges = edges0.select(col("s"), col("d")).union(loops).hint("shuffle_hash")
    def step(labels: DataFrame): DataFrame =
      edges.join(labels.select(col("doc_id").as("d"), col("label")).hint("shuffle_hash"), "d")
        .groupBy(col("s").as("doc_id")).agg(min(col("label")).as("label"))
    var labels = labels0.select(col("doc_id"), col("label"))
    if (!fixpoint) {
      // every round extends ONE plan; callers needing more rounds take
      // the materializing fixpoint loop
      require(maxRounds <= 8,
        s"propagate: lazy chaining caps at 8 rounds, got $maxRounds — use fixpoint=true")
      (1 to maxRounds).foreach(_ => labels = step(labels))
      return labels
    }
    edges.persist()
    var round = 0
    var converged = false
    while (round < maxRounds && !converged) {
      val next = step(labels).persist()
      val changed = next.as("n")
        .join(labels.as("p"), "doc_id")
        .filter(col("n.label") =!= col("p.label"))
        .count() // materializes `next`, then the parent can go
      converged = changed == 0
      labels.unpersist()
      labels = next
      round += 1
    }
    edges.unpersist()
    labels
  }

  /** Cluster labels of a `documents`-shaped frame after exactly 3 rounds
    * of min-label propagation over its LSH candidate graph — shared by d06
    * and the corpus pipeline (p01/p02). Both edge directions come from one
    * candidate reference (`stack`); doc_id is unique and every candidate
    * is a document, as [[propagate]] requires. The round count is mirrored
    * in the unrolled oracle CTEs ([[clusterLabelsSql]] — change both). */
  private[queries] def clusterLabels(docs: DataFrame): DataFrame = {
    val edges = minhashCandidates(docs)
      .select(expr("stack(2, doc_a, doc_b, doc_b, doc_a) AS (s, d)"))
    propagate(docs.select(col("doc_id"), col("doc_id").as("label")), edges,
      fixpoint = false, maxRounds = 3)
  }

  /** The same propagation as oracle CTEs ending in `l3(doc_id, label)`
    * (expects `cand` from [[minhashCandSql]] in scope). */
  private[queries] val clusterLabelsSql: String = s"""
        edges AS (
          SELECT doc_a AS s, doc_b AS d FROM cand
          UNION ALL
          SELECT doc_b AS s, doc_a AS d FROM cand),
        l0 AS (SELECT doc_id, doc_id AS label FROM documents),
        ${(1 to 3).map { i =>
          s"""l$i AS (
            SELECT l.doc_id, least(l.label, coalesce(m.nmin, l.label)) AS label
            FROM l${i - 1} l LEFT JOIN (
              SELECT e.s AS doc_id, MIN(x.label) AS nmin
              FROM edges e JOIN l${i - 1} x ON x.doc_id = e.d
              GROUP BY e.s) m USING (doc_id))"""
        }.mkString(",\n")}"""

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "d01_dedup_exact",
      Some("""
        SELECT COUNT(*) AS n_docs,
               COUNT(DISTINCT md5(text)) AS n_unique,
               COUNT(DISTINCT md5(lower(regexp_replace(text, '\s+', ' ', 'g')))) AS n_norm_unique
        FROM documents"""),
      (s, dir) =>
        Tables.load(s, dir, "documents").agg(
          count(lit(1)).as("n_docs"),
          countDistinct(md5(col("text").cast("binary"))).as("n_unique"),
          countDistinct(md5(lower(regexp_replace(col("text"), "\\s+", " "))
            .cast("binary"))).as("n_norm_unique"))
    ),
    QueryDef(
      "d02_minhash_lsh_pairs",
      // shingle→minhash→band→bucket-join candidate generation
      Some(s"""
        WITH ${minhashCandSql}
        SELECT doc_a, doc_b FROM cand
        ORDER BY doc_a, doc_b"""),
      (s, dir) => {
        GraftFunctions.register(s)
        minhashCandidates(Tables.load(s, dir, "documents")).orderBy("doc_a", "doc_b")
      }
    ),
    QueryDef(
      "d03_simhash",
      // 32-bit SimHash: per-bit majority vote over token md5s
      Some("""
        WITH tok AS (
          SELECT doc_id, ('0x' || substring(md5(unnest(list_distinct(
                   regexp_split_to_array(trim(text), '\s+')))), 1, 8))::BIGINT AS v
          FROM documents),
        bits AS (
          SELECT doc_id, j,
                 CASE WHEN SUM(CASE WHEN ((v >> j) & 1) = 1 THEN 1 ELSE -1 END) > 0
                      THEN 1 ELSE 0 END AS bit
          FROM tok, range(32) t(j)
          GROUP BY doc_id, j)
        SELECT doc_id, CAST(SUM(bit * (CAST(1 AS BIGINT) << j)) AS BIGINT) AS simhash
        FROM bits GROUP BY doc_id ORDER BY doc_id"""),
      (s, dir) => {
        val tok = Tables.load(s, dir, "documents")
          .select(col("doc_id"), explode(toks).as("w"))
          .withColumn("v", conv(substring(md5(col("w").cast("binary")), 1, 8), 16, 10).cast("long"))
        // PACKED one-counts (round 20, guide §4): 16 longs of 2 x 32-bit
        // lanes replace the 32 per-bit ±1 sums — half the aggregation
        // buffer and half the per-row sum updates, same result by
        // construction: the old per-bit sum is s_j = 2*ones_j - n, so
        // `s_j > 0` === `2*ones_j > n`. A lane overflows only at 2^32
        // DISTINCT tokens in one document (tens of GB of unique words) —
        // the same practical headroom as the old per-bit long sums.
        // Warm A/B at sf0.1: 0.66 -> 0.60 s (value-identical, verified).
        val packed = (0 until 16).map { g =>
          sum((0 until 2).map { k =>
            shiftleft(shiftright(col("v"), g * 2 + k).bitwiseAND(1), 32 * k)
          }.reduce(_ + _)).as(s"p$g")
        }
        val agg = tok.groupBy("doc_id").agg(count(lit(1)).as("__n"), packed: _*)
        val simhash = (0 until 32).map { j =>
          val ones = shiftright(col(s"p${j / 2}"), 32 * (j % 2))
            .bitwiseAND(0xFFFFFFFFL)
          when(ones * 2 > col("__n"), lit(1L << j)).otherwise(lit(0L))
        }.reduce(_ + _)
        agg.select(col("doc_id"), simhash.cast("long").as("simhash")).orderBy("doc_id")
      }
    ),
    QueryDef(
      "d04_jaccard_pairs",
      // Candidate-verify Jaccard: d02's bigram-shingle MinHash-LSH
      // (16 hashes, 4-row bands — hard pruning) generates the candidate
      // pairs; exact unigram-token Jaccard ≥ 0.7 plus same-lang blocking
      // is verified ONLY on candidates. No O(n²) cross join anywhere — the
      // candidate join is on (band, signature), so the plan scales with
      // the number of genuinely-similar pairs, not corpus².
      Some(s"""
        WITH t AS (
          SELECT doc_id, lang,
                 list_distinct(regexp_split_to_array(trim(text), '\\s+')) AS w
          FROM documents),
        ${minhashCandSql}
        SELECT doc_a, doc_b,
               round(CAST(len(list_intersect(ta.w, tc.w)) AS DOUBLE)
                     / len(list_distinct(ta.w || tc.w)), 6) AS jaccard
        FROM cand
        JOIN t ta ON ta.doc_id = doc_a
        JOIN t tc ON tc.doc_id = doc_b AND ta.lang = tc.lang
        WHERE round(CAST(len(list_intersect(ta.w, tc.w)) AS DOUBLE)
                    / len(list_distinct(ta.w || tc.w)), 6) >= 0.7
        ORDER BY doc_a, doc_b"""),
      (s, dir) => {
        GraftFunctions.register(s)
        val docs = Tables.load(s, dir, "documents")
        val t = docs.select(col("doc_id"), col("lang"), toks.as("w"))
        minhashCandidates(docs)
          .join(t.select(col("doc_id").as("doc_a"), col("lang").as("la"), col("w").as("wa")), "doc_a")
          .join(t.select(col("doc_id").as("doc_b"), col("lang").as("lb"), col("w").as("wb")), "doc_b")
          .filter(col("la") === col("lb"))
          .select(col("doc_a"), col("doc_b"),
            round(size(array_intersect(col("wa"), col("wb"))).cast("double")
              / size(array_union(col("wa"), col("wb"))), 6).as("jaccard"))
          .filter(col("jaccard") >= 0.7)
          .orderBy("doc_a", "doc_b")
      }
    ),
    QueryDef(
      "d06_dedup_clusters",
      // Duplicate-cluster assignment: connected components over the LSH
      // candidate graph via 3 rounds of min-label propagation — each doc
      // ends up labeled with the smallest doc_id reachable in ≤3 hops (its
      // cluster's canonical keeper; LSH bucket components are near-cliques
      // with diameter ≤~2, so 3 rounds converge). Label propagation is the
      // scalable component algorithm: each round is one shuffle on doc_id,
      // rounds grow with graph diameter (bounded identically on both
      // engines so results match by construction; production would iterate
      // to fixpoint with checkpointing).
      Some(s"""
        WITH ${minhashCandSql},
        ${clusterLabelsSql}
        SELECT doc_id, label AS cluster_id FROM l3 ORDER BY doc_id"""),
      (s, dir) => {
        GraftFunctions.register(s)
        clusterLabels(Tables.load(s, dir, "documents"))
          .select(col("doc_id"), col("label").as("cluster_id")).orderBy("doc_id")
      }
    ),
    QueryDef(
      "d07_incremental_dedup",
      // INCREMENTAL corpus dedup — the 100 TB ingestion pattern: the
      // already-ingested corpus's LSH band signatures are PERSISTED as an
      // Iceberg index table (built once, here within the gate); each new
      // batch computes bands only for ITS docs and joins them against the
      // index — the corpus text is never re-shingled, and the index join
      // is a bucketed equi-join on (band, signature) whose cost scales
      // with the batch, not the corpus. A new doc is dropped when it
      // collides with any corpus band or with an earlier (lower doc_id)
      // batch doc; survivors are the batch's keepers. The oracle
      // recomputes the same rule from scratch over the full corpus.
      Some(s"""
        WITH ${minhashCandSql},
        dropped AS (
          SELECT DISTINCT x.doc_id
          FROM band x JOIN band y ON x.b = y.b AND x.sig = y.sig
          WHERE x.doc_id % 5 = 4
            AND (y.doc_id % 5 != 4 OR y.doc_id < x.doc_id))
        SELECT doc_id, lang FROM documents
        WHERE doc_id % 5 = 4
          AND doc_id NOT IN (SELECT doc_id FROM dropped)
        ORDER BY doc_id"""),
      (s, dir) => {
        GraftFunctions.register(s)
        val idx = java.nio.file.Files
          .createTempDirectory("graft_d07_").toString + "/band_index"
        val docs = Tables.load(s, dir, "documents")
        val isBatch = col("doc_id") % 5 === 4
        // one-time (per-ingest) index build: corpus bands → Iceberg
        graft.iceberg.IcebergWriter.write(
          minhashBands(docs.filter(!isBatch)), idx)
        val index = IcebergScan.scan(s, idx)
          .select(col("b"), col("sig"), col("doc_id").as("corpus_id"))
        // shuffled-hash joins on (b, sig) for BOTH the corpus-index probe
        // and the intra-batch self-join: all three batch-band join inputs
        // shuffle by the same key over the identical subtree, so AQE's
        // exchange reuse computes the batch band pipeline ONCE — and the
        // corpus-sized index side is never broadcast (see
        // minhashCandidates, round 19)
        val bb = minhashBands(docs.filter(isBatch)).hint("shuffle_hash")
        val hitCorpus = bb.join(index, Seq("b", "sig"))
          .select("doc_id").distinct()
        val hitEarlier = bb.as("x").join(bb.as("y"),
            col("x.b") === col("y.b") && col("x.sig") === col("y.sig") &&
            col("y.doc_id") < col("x.doc_id"))
          .select(col("x.doc_id")).distinct()
        docs.filter(isBatch).select("doc_id", "lang")
          .join(hitCorpus.unionByName(hitEarlier).distinct(), Seq("doc_id"),
            "left_anti")
          .orderBy("doc_id")
      }
    ),
    QueryDef(
      "d05_embedding_neardup",
      // Candidate-verify embedding near-dup: random-hyperplane LSH
      // (16 planes, 4-bit bands × 4 → 16-way buckets per band) buckets
      // vectors within each label; candidate pairs share a band signature,
      // then exact cosine ≥ 0.25 is verified ONLY on candidates via an
      // array dot product (zip_with + exact decimal fold — no pairs×dims
      // explode join) against per-vector norms computed once.
      Some(s"""
        WITH ${planeBitsSql},
        sigs AS (
          SELECT b.vec_id, e.label, b.j // 4 AS band,
                 string_agg(b.bit, '' ORDER BY b.j) AS sig
          FROM bits b JOIN embeddings e ON e.vec_id = b.vec_id
          GROUP BY b.vec_id, e.label, b.j // 4),
        cand AS (
          SELECT DISTINCT a.vec_id AS vec_a, c.vec_id AS vec_b
          FROM sigs a JOIN sigs c
            ON a.band = c.band AND a.sig = c.sig AND a.label = c.label
           AND a.vec_id < c.vec_id),
        pair_dots AS (
          SELECT cand.vec_a, cand.vec_b,
                 ${dotDblSql("ea.e", "ec.e")} AS dot
          FROM cand
          JOIN emb ea ON ea.vec_id = cand.vec_a
          JOIN emb ec ON ec.vec_id = cand.vec_b)
        SELECT vec_a, vec_b,
               round(dot / (sqrt(na.nn) * sqrt(nb.nn)), 4) AS cos
        FROM pair_dots
        JOIN norms na ON na.vec_id = vec_a
        JOIN norms nb ON nb.vec_id = vec_b
        WHERE round(dot / (sqrt(na.nn) * sqrt(nb.nn)), 4) >= 0.25
        ORDER BY vec_a, vec_b"""),
      (s, dir) => {
        graft.sql.GraftSql.register(s) // graft_dot
        val e = Tables.load(s, dir, "embeddings")
        val bits = planeBits
        val sigs = (0 until NumPlanes / 4).map(b =>
          concat((0 until 4).map(r => bits(4 * b + r)): _*))
        // shuffled-hash self-join on (band, sig, label): exchange reuse
        // computes the hyperplane-signature pipeline once, and no
        // corpus-sized band table is broadcast — see minhashCandidates
        val bands = e.select(col("vec_id"), col("label"),
          posexplode(array(sigs: _*)).as(Seq("band", "sig")))
          .hint("shuffle_hash")
        val cand = bands.as("a").join(bands.as("c"),
            col("a.band") === col("c.band") && col("a.sig") === col("c.sig") &&
            col("a.label") === col("c.label") && col("a.vec_id") < col("c.vec_id"))
          .select(col("a.vec_id").as("vec_a"), col("c.vec_id").as("vec_b"))
          .distinct()
        // Per-vector array + squared norm, computed ONCE and joined to the
        // candidate pairs (not recomputed per pair).
        val en = e.select(col("vec_id"), col("embedding"),
          dotDbl(col("embedding"), col("embedding")).as("nn"))
        cand
          .join(en.select(col("vec_id").as("vec_a"), col("embedding").as("ea"),
                          col("nn").as("nna")), "vec_a")
          .join(en.select(col("vec_id").as("vec_b"), col("embedding").as("eb"),
                          col("nn").as("nnb")), "vec_b")
          .select(col("vec_a"), col("vec_b"),
            round(dotDbl(col("ea"), col("eb"))
              / (sqrt(col("nna")) * sqrt(col("nnb"))), 4)
              .as("cos"))
          .filter(col("cos") >= 0.25)
          .orderBy("vec_a", "vec_b")
      }
    ),
    QueryDef(
      "a05_ann_rerank",
      // TWO-STAGE retrieval — the production pattern for quantized
      // indexes: stage 1 scores EVERY candidate with exact-integer int8
      // dots (4× smaller vectors, the a04 scheme) and keeps a top-20
      // shortlist per query; stage 2 re-joins ONLY the shortlist against
      // the full-precision store and re-ranks by exact double cosine.
      // At 100 TB the full-precision vectors are touched for 20 rows per
      // query instead of the whole corpus — the memory-bandwidth win of
      // quantization with none of its final-ranking error.
      Some(s"""
        WITH emb AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
          FROM embeddings),
        q8 AS (
          SELECT vec_id,
                 list_transform(e, x -> CAST(round(x * 127.0 / mx) AS BIGINT)) AS v
          FROM (SELECT vec_id, e,
                       list_max(list_transform(e, x -> abs(x))) AS mx
                FROM emb)
          WHERE mx > 0),
        cand AS (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 list_reduce(list_prepend(CAST(0 AS BIGINT),
                   list_transform(list_zip(q.v, c.v), s -> s[1] * s[2])),
                   (a, b) -> a + b) AS s8
          FROM q8 q
          JOIN q8 c ON q.vec_id <> c.vec_id
          WHERE q.vec_id < 5),
        shortlist AS (
          SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY s8 DESC, neighbor_id) AS rk8
            FROM cand) WHERE rk8 <= 20),
        norms AS (
          SELECT vec_id, ${dotDblSql("e", "e")} AS nn FROM emb),
        rerank AS (
          SELECT s.query_id, s.neighbor_id,
                 round(${dotDblSql("q.e", "c.e")}
                       / (sqrt(nq.nn) * sqrt(nc.nn)), 4) AS cos
          FROM shortlist s
          JOIN emb q ON q.vec_id = s.query_id
          JOIN emb c ON c.vec_id = s.neighbor_id
          JOIN norms nq ON nq.vec_id = s.query_id
          JOIN norms nc ON nc.vec_id = s.neighbor_id)
        SELECT query_id, neighbor_id, cos, rk FROM (
          SELECT query_id, neighbor_id, cos,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cos DESC, neighbor_id) AS rk
          FROM rerank) WHERE rk <= 3
        ORDER BY query_id, rk"""),
      (s, dir) => {
        graft.sql.GraftSql.register(s)
        val emb = Tables.load(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
        val q8 = emb
          .withColumn("mx", expr("array_max(transform(e, x -> abs(x)))"))
          .filter(col("mx") > 0)
          .withColumn("v",
            expr("transform(e, x -> CAST(round(x * 127.0D / mx) AS BIGINT))"))
        // stage 1: integer dots against the broadcast query side
        val q = q8.filter(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"), col("v").as("vq"))
        // int8 dot via the codegen'd graft_dot (round 19): every product
        // is <= 127² and the 64-element sum <= ~1.03e6 — exact in a double
        // — so the long cast reproduces the zip_with/aggregate LONG fold
        // bit-for-bit without the per-element HOF lambda allocations
        val cand = q8.select(col("vec_id").as("neighbor_id"), col("v").as("vn"))
          .join(broadcast(q), col("query_id") =!= col("neighbor_id"))
          .select(col("query_id"), col("neighbor_id"),
            dotDbl(col("vq"), col("vn")).cast("long").as("s8"))
        val w8 = Window.partitionBy("query_id").orderBy(col("s8").desc, col("neighbor_id"))
        val shortlist = cand.withColumn("rk8", row_number().over(w8))
          .filter(col("rk8") <= 20).select("query_id", "neighbor_id")
        // stage 2: shortlist re-joined against full precision (tiny side
        // broadcasts; the corpus is touched by hash lookup, not scanned)
        val full = emb.select(col("vec_id"), col("e"),
          dotDbl(col("e"), col("e")).as("nn"))
        val rerank = shortlist
          .join(full.select(col("vec_id").as("query_id"),
            col("e").as("eq"), col("nn").as("nnq")), Seq("query_id"))
          .join(full.select(col("vec_id").as("neighbor_id"),
            col("e").as("en"), col("nn").as("nnc")), Seq("neighbor_id"))
          .select(col("query_id"), col("neighbor_id"),
            round(dotDbl(col("eq"), col("en"))
              / (sqrt(col("nnq")) * sqrt(col("nnc"))), 4).as("cos"))
        val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
        rerank.withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 3)
          .select("query_id", "neighbor_id", "cos", "rk")
          .orderBy("query_id", "rk")
      }
    ),
    QueryDef(
      "a04_ann_quantized",
      // int8 scalar-quantized ANN — the memory-bandwidth lever at 100 TB:
      // each vector scaled by 127/max|x| and rounded to small ints, so
      // candidate scoring runs on 4×-smaller vectors with EXACT integer
      // dot products (order-independent, bit-identical across engines);
      // only the final cosine normalization touches floating point.
      Some("""
        WITH emb AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
          FROM embeddings),
        q8 AS (
          SELECT vec_id,
                 list_transform(e, x -> CAST(round(x * 127.0 / mx) AS BIGINT)) AS v
          FROM (SELECT vec_id, e,
                       list_max(list_transform(e, x -> abs(x))) AS mx
                FROM emb)
          WHERE mx > 0),
        norms AS (
          SELECT vec_id,
                 list_reduce(list_prepend(CAST(0 AS BIGINT),
                   list_transform(list_zip(v, v), s -> s[1] * s[2])),
                   (a, b) -> a + b) AS nn
          FROM q8),
        scored AS (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 round(CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                         list_transform(list_zip(q.v, c.v), s -> s[1] * s[2])),
                         (a, b) -> a + b) AS DOUBLE)
                       / (sqrt(nq.nn) * sqrt(nc.nn)), 4) AS qcos
          FROM q8 q
          JOIN q8 c ON q.vec_id <> c.vec_id
          JOIN norms nq ON nq.vec_id = q.vec_id
          JOIN norms nc ON nc.vec_id = c.vec_id
          WHERE q.vec_id < 5),
        ranked AS (
          SELECT query_id, neighbor_id, qcos,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY qcos DESC, neighbor_id) AS rk
          FROM scored)
        SELECT query_id, neighbor_id, qcos, rk FROM ranked
        WHERE rk <= 3 ORDER BY query_id, rk"""),
      (s, dir) => {
        graft.sql.GraftSql.register(s) // graft_dot
        // int8 dots via the codegen'd graft_dot — exact in a double
        // (products <= 127², 64-element sums <= ~1.03e6), bit-identical
        // to the zip_with/aggregate LONG fold it replaces (see a05)
        val e = Tables.load(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
          .withColumn("mx", expr("array_max(transform(e, x -> abs(x)))"))
          .filter(col("mx") > 0)
          .withColumn("v",
            expr("transform(e, x -> CAST(round(x * 127.0D / mx) AS BIGINT))"))
          .withColumn("nn", dotDbl(col("v"), col("v")))
        val q = e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"), col("v").as("vq"), col("nn").as("nnq"))
        val c = e.select(col("vec_id").as("neighbor_id"), col("v").as("vn"), col("nn").as("nnc"))
        val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
          .select(col("query_id"), col("neighbor_id"),
            round(dotDbl(col("vq"), col("vn"))
              / (sqrt(col("nnq")) * sqrt(col("nnc"))), 4)
              .as("qcos"))
        val w = Window.partitionBy("query_id").orderBy(col("qcos").desc, col("neighbor_id"))
        scored.withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 3)
          .orderBy("query_id", "rk")
      }
    ),
    QueryDef(
      "a01_ann_bruteforce_topk",
      // exact cosine top-3 neighbors for query vectors vec_id < 5
      Some(s"""
        WITH emb AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
          FROM embeddings),
        norms AS (
          SELECT vec_id, ${dotDblSql("e", "e")} AS nn
          FROM emb),
        scored AS (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 round(${dotDblSql("q.e", "c.e")}
                       / (sqrt(nq.nn) * sqrt(nc.nn)), 4) AS cos
          FROM emb q
          JOIN emb c ON q.vec_id <> c.vec_id
          JOIN norms nq ON nq.vec_id = q.vec_id
          JOIN norms nc ON nc.vec_id = c.vec_id
          WHERE q.vec_id < 5),
        ranked AS (
          SELECT query_id, neighbor_id, cos,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cos DESC, neighbor_id) AS rk
          FROM scored)
        SELECT query_id, neighbor_id, cos, rk FROM ranked
        WHERE rk <= 3 ORDER BY query_id, rk"""),
      (s, dir) => {
        // Exact brute force, but NO pairs×dims explode: the tiny query set
        // broadcasts against the corpus and each pair's dot product is one
        // codegen'd graft_dot over the two array columns.
        graft.sql.GraftSql.register(s)
        val e = Tables.load(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"),
            dotDbl(col("embedding"), col("embedding")).as("nn"))
        val q = e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"), col("embedding").as("eq"), col("nn").as("nnq"))
        val c = e.select(col("vec_id").as("neighbor_id"), col("embedding").as("en"), col("nn").as("nnc"))
        val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
          .select(col("query_id"), col("neighbor_id"),
            round(dotDbl(col("eq"), col("en"))
              / (sqrt(col("nnq")) * sqrt(col("nnc"))), 4)
              .as("cos"))
        val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
        scored.withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 3)
          .orderBy("query_id", "rk")
      }
    ),
    QueryDef(
      "a02_ann_lsh_bucketed",
      // Bucketed ANN — the 100 TB path: the same 16 hyperplanes regrouped
      // as 4 bands of 4 sign bits (16-way buckets per band), with QUERY-SIDE
      // MULTIPROBE: each query also probes the 4 Hamming-distance-1
      // signatures of every band — the standard recall lever (probe more
      // buckets, don't widen the buckets), lifting recall@3 from ~0.4 to
      // ~0.9 on this corpus (AnnRecallSpec pins it). Candidates stay
      // bucket-bounded: only the tiny query side fans out 5×; exact cosine
      // + top-k runs only on candidates.
      Some(s"""
        WITH ${planeBitsSql},
        sigs AS (
          SELECT vec_id, j // 4 AS band,
                 string_agg(bit, '' ORDER BY j) AS sig
          FROM bits GROUP BY vec_id, j // 4),
        qsigs AS (SELECT vec_id, band, sig FROM sigs WHERE vec_id < 5),
        probes AS (
          SELECT vec_id, band, sig FROM qsigs
          UNION ALL
          SELECT vec_id, band,
                 substr(sig, 1, k)
                 || (CASE WHEN substr(sig, k + 1, 1) = '1' THEN '0' ELSE '1' END)
                 || substr(sig, k + 2, 3 - k) AS sig
          FROM qsigs, range(4) t(k)),
        cand AS (
          SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
          FROM probes q JOIN sigs c
            ON q.band = c.band AND q.sig = c.sig AND q.vec_id <> c.vec_id),
        pair_dots AS (
          SELECT cand.query_id, cand.neighbor_id,
                 ${dotDblSql("ea.e", "ec.e")} AS dot
          FROM cand
          JOIN emb ea ON ea.vec_id = cand.query_id
          JOIN emb ec ON ec.vec_id = cand.neighbor_id),
        scored AS (
          SELECT query_id, neighbor_id,
                 round(dot / (sqrt(nq.nn) * sqrt(nc.nn)), 4) AS cos
          FROM pair_dots
          JOIN norms nq ON nq.vec_id = query_id
          JOIN norms nc ON nc.vec_id = neighbor_id),
        ranked AS (
          SELECT query_id, neighbor_id, cos,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cos DESC, neighbor_id) AS rk
          FROM scored)
        SELECT query_id, neighbor_id, cos, rk FROM ranked
        WHERE rk <= 3 ORDER BY query_id, rk"""),
      (s, dir) => {
        graft.sql.GraftSql.register(s) // graft_dot
        val e = Tables.load(s, dir, "embeddings")
        val bits = planeBits
        val sigs = (0 until NumPlanes / 4).map(b =>
          concat((0 until 4).map(r => bits(4 * b + r)): _*))
        val bands = e.select(col("vec_id"),
          posexplode(array(sigs: _*)).as(Seq("band", "sig")))
        val qb = bands.filter(col("vec_id") < 5)
        // multiprobe: the band signature itself + its 4 Hamming-1 flips
        val flips = (0 until 4).map { k =>
          concat(
            substring(col("sig"), 1, k),
            when(substring(col("sig"), k + 1, 1) === "1", lit("0")).otherwise(lit("1")),
            substring(col("sig"), k + 2, 3 - k))
        }
        val probes = qb.select(col("vec_id"), col("band"),
          explode(array(col("sig") +: flips: _*)).as("sig"))
        val cand = probes.as("q").join(bands.as("c"),
            col("q.band") === col("c.band") && col("q.sig") === col("c.sig") &&
            col("q.vec_id") =!= col("c.vec_id"))
          .select(col("q.vec_id").as("query_id"), col("c.vec_id").as("neighbor_id"))
          .distinct()
        val en = e.select(col("vec_id"), col("embedding"),
          dotDbl(col("embedding"), col("embedding")).as("nn"))
        val scored = cand
          .join(en.select(col("vec_id").as("query_id"), col("embedding").as("eq"),
                          col("nn").as("nnq")), "query_id")
          .join(en.select(col("vec_id").as("neighbor_id"), col("embedding").as("en"),
                          col("nn").as("nnc")), "neighbor_id")
          .select(col("query_id"), col("neighbor_id"),
            round(dotDbl(col("eq"), col("en"))
              / (sqrt(col("nnq")) * sqrt(col("nnc"))), 4)
              .as("cos"))
        val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
        scored.withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 3)
          .orderBy("query_id", "rk")
      }
    ),
    QueryDef(
      "a03_ann_ivf",
      // IVF (inverted-file) ANN — the centroid-based scale path: seed
      // centroids (the vec_id<8 vectors) are REFINED by one k-means
      // (Lloyd) round — assign all vectors to their best-cosine seed,
      // then take the per-cell per-dimension mean — before the final
      // assignment. The means use exact DECIMAL sums, so they are
      // bit-identical across engines regardless of summation order (a
      // float-sum mean would differ in the last ulp and could flip an
      // assignment). Refined centroids broadcast; every vector is
      // assigned map-side; queries probe their top-2 cells and score
      // exact cosine only within probed cells. At 100 TB the explode ×
      // dims pass is linear with map-side combine (decimal sums are
      // associative), and the centroid list stays broadcast-sized — no
      // shuffle grows with corpus².
      Some(s"""
        WITH ${embNormsSql},
        cents0 AS (SELECT vec_id AS cid, e AS ce FROM embn WHERE vec_id < 8),
        cn0 AS (SELECT cid, ${dotDblSql("ce", "ce")} AS cn FROM cents0),
        sim0 AS (
          SELECT v.vec_id, c.cid,
                 ${dotDblSql("v.e", "c.ce")} / (sqrt(nv.nn) * sqrt(cn.cn)) AS cos
          FROM embn v
          CROSS JOIN cents0 c
          JOIN norms nv ON nv.vec_id = v.vec_id
          JOIN cn0 cn ON cn.cid = c.cid),
        assign0 AS (
          SELECT vec_id, cid FROM (
            SELECT vec_id, cid,
                   row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rc
            FROM sim0)
          WHERE rc = 1),
        mem AS (
          SELECT a.cid, u.pos, u.val
          FROM assign0 a JOIN embn v ON v.vec_id = a.vec_id,
               unnest(list_transform(v.e, (x, i) -> struct_pack(pos := i, val := x))) AS s(u)),
        refined AS (
          SELECT cid, pos,
                 round(CAST(SUM(CAST(val AS DECIMAL(25,8))) AS DOUBLE) / COUNT(*), 6) AS m
          FROM mem GROUP BY cid, pos),
        cents AS (SELECT cid, list(m ORDER BY pos) AS ce FROM refined GROUP BY cid),
        cnorm AS (SELECT cid, ${dotDblSql("ce", "ce")} AS cn FROM cents),
        sim AS (
          SELECT v.vec_id, c.cid,
                 ${dotDblSql("v.e", "c.ce")} / (sqrt(nv.nn) * sqrt(cn.cn)) AS cos
          FROM embn v
          CROSS JOIN cents c
          JOIN norms nv ON nv.vec_id = v.vec_id
          JOIN cnorm cn ON cn.cid = c.cid),
        cells AS (
          SELECT vec_id, cid,
                 row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rc
          FROM sim),
        assign AS (SELECT vec_id, cid FROM cells WHERE rc = 1),
        probes AS (SELECT vec_id, cid FROM cells WHERE vec_id < 5 AND rc <= 2),
        cand AS (
          SELECT DISTINCT p.vec_id AS query_id, a.vec_id AS neighbor_id
          FROM probes p JOIN assign a ON a.cid = p.cid AND a.vec_id <> p.vec_id),
        scored AS (
          SELECT cand.query_id, cand.neighbor_id,
                 round(${dotDblSql("eq.e", "en.e")}
                       / (sqrt(nq.nn) * sqrt(nc.nn)), 4) AS cos
          FROM cand
          JOIN embn eq ON eq.vec_id = cand.query_id
          JOIN embn en ON en.vec_id = cand.neighbor_id
          JOIN norms nq ON nq.vec_id = cand.query_id
          JOIN norms nc ON nc.vec_id = cand.neighbor_id),
        ranked AS (
          SELECT query_id, neighbor_id, cos,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cos DESC, neighbor_id) AS rk
          FROM scored)
        SELECT query_id, neighbor_id, cos, rk FROM ranked
        WHERE rk <= 3 ORDER BY query_id, rk"""),
      (s, dir) => {
        graft.sql.GraftSql.register(s) // graft_dot
        val e = Tables.load(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"),
            dotDbl(col("embedding"), col("embedding")).as("nn"))
        val cents0 = e.filter(col("vec_id") < 8)
          .select(col("vec_id").as("cid"), col("embedding").as("ce"), col("nn").as("cn"))
        val sim0 = e.crossJoin(broadcast(cents0))
          .select(col("vec_id"), col("cid"),
            (dotDbl(col("embedding"), col("ce"))
              / (sqrt(col("nn")) * sqrt(col("cn")))).as("cos"))
        val wc0 = Window.partitionBy("vec_id").orderBy(col("cos").desc, col("cid"))
        val assign0 = sim0.withColumn("rc", row_number().over(wc0))
          .filter(col("rc") === 1).select("vec_id", "cid")
        // one Lloyd round: per-cell per-dimension mean via EXACT decimal
        // sums (float sums vary with order across engines; decimal sums
        // are associative → map-side combine AND bit-identical means).
        // The double cast first makes both engines round the same
        // double→decimal conversion.
        val mem = assign0.join(e, "vec_id")
          .select(col("cid"), posexplode(col("embedding")).as(Seq("pos", "val")))
        // graft_dsum over decimal(18,8): embedding components are well
        // inside (18,8)'s ±10^10 integer range, so the per-row cast equals
        // the oracle's DECIMAL(25,8) conversion value-for-value, and the
        // exact sum swaps a BigDecimal-backed buffer for two longs (the
        // oracle keeps summing at (25,8) — equal exact values either way)
        val refined = mem.groupBy("cid", "pos")
          .agg(round(call_function("graft_dsum",
              call_function("graft_dec", col("val").cast("double"), lit(8)))
              .cast("double")
            / count(lit(1)), 6).as("m"))
        val cents = refined.groupBy("cid")
          .agg(transform(sort_array(collect_list(struct(col("pos"), col("m")))),
            x => x.getField("m")).as("ce"))
          .withColumn("cn", dotDbl(col("ce"), col("ce")))
        val sim = e.crossJoin(broadcast(cents))
          .select(col("vec_id"), col("cid"),
            (dotDbl(col("embedding"), col("ce"))
              / (sqrt(col("nn")) * sqrt(col("cn")))).as("cos"))
        val wc = Window.partitionBy("vec_id").orderBy(col("cos").desc, col("cid"))
        val cells = sim.withColumn("rc", row_number().over(wc))
        val assign = cells.filter(col("rc") === 1).select(col("vec_id"), col("cid"))
        val probes = cells.filter(col("vec_id") < 5 && col("rc") <= 2)
          .select(col("vec_id").as("query_id"), col("cid"))
        val cand = probes.join(assign.select(col("vec_id").as("neighbor_id"), col("cid")), "cid")
          .filter(col("query_id") =!= col("neighbor_id"))
          .select("query_id", "neighbor_id").distinct()
        val scored = cand
          .join(e.select(col("vec_id").as("query_id"), col("embedding").as("eq"),
                         col("nn").as("nnq")), "query_id")
          .join(e.select(col("vec_id").as("neighbor_id"), col("embedding").as("en"),
                         col("nn").as("nnc")), "neighbor_id")
          .select(col("query_id"), col("neighbor_id"),
            round(dotDbl(col("eq"), col("en"))
              / (sqrt(col("nnq")) * sqrt(col("nnc"))), 4).as("cos"))
        val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
        scored.withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 3)
          .orderBy("query_id", "rk")
      }
    )
  )
}
