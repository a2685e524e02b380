package graft.queries

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end training-corpus pipeline composition: the individual
  * operators (quality scoring t02, LSH dedup clustering d06, deterministic
  * split assignment t06) chained into the selection a real data pipeline
  * materializes — documents that pass the quality filter, are their
  * duplicate-cluster's canonical keeper, and land in the train split.
  */
object PipelineQueries {

  private def toksAll: Column = split(trim(col("text")), "\\s+")

  /** The curated corpus at DOC level: quality-passing cluster keepers
    * with token counts and their deterministic split assignment (the
    * t02/d06/t06 composition p01 aggregates). */
  private def curated(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val stop = array(Seq("the", "and", "is", "of", "to", "a", "in").map(lit): _*)
    val docs = Tables.load(s, dir, "documents")
    val q = docs.select(col("doc_id"), col("source"),
        size(toksAll).as("n_tok"),
        round(size(filter(toksAll, x => array_contains(stop, x))).cast("double")
            / size(toksAll) * 0.5
          + (lit(1.0) - (length(col("text"))
              - length(regexp_replace(col("text"), "[.,!?;:]", ""))).cast("double")
              / length(col("text"))) * 0.3
          + least(size(toksAll).cast("double") / 100.0, lit(1.0)) * 0.2, 6)
          .as("quality"))
    val keepers = DedupQueries.clusterLabels(docs)
      .filter(col("label") === col("doc_id")).select("doc_id")
    val bucket = conv(substring(
        md5(col("doc_id").cast("string").cast("binary")), 1, 8), 16, 10)
      .cast("long") % 100
    q.join(keepers, "doc_id")
      .filter(col("quality") >= 0.5)
      .withColumn("bucket", bucket)
      .withColumn("split",
        when(col("bucket") < 90, "train")
          .when(col("bucket") < 95, "val").otherwise("test"))
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "p01_train_corpus",
      // filter → dedup(keep cluster minimum) → split; per-source doc and
      // token counts audit what survives into the training corpus
      Some(s"""
        WITH ${DedupQueries.minhashCandSql},
        ${DedupQueries.clusterLabelsSql},
        q AS (
          SELECT doc_id, source,
                 len(regexp_split_to_array(trim(text), '\\s+')) AS n_tok,
                 round(0.5 * (CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                         x -> list_contains(['the','and','is','of','to','a','in'], x))) AS DOUBLE)
                       / len(regexp_split_to_array(trim(text), '\\s+')))
                     + 0.3 * (1.0 - CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
                                    / length(text))
                     + 0.2 * least(CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS DOUBLE) / 100.0, 1.0), 6)
                   AS quality
          FROM documents),
        surv AS (
          SELECT q.doc_id, q.source, q.n_tok
          FROM q JOIN l3 ON l3.doc_id = q.doc_id AND l3.label = q.doc_id
          WHERE q.quality >= 0.5
            AND ('0x' || substring(md5(CAST(q.doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 90)
        SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens
        FROM surv GROUP BY source ORDER BY source"""),
      (s, dir) => curated(s, dir)
        .filter(col("bucket") < 90)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
             sum(col("n_tok")).cast("long").as("n_tokens"))
        .orderBy("source")
    ),
    QueryDef(
      "p02_corpus_to_iceberg",
      // The pipeline's MATERIALIZATION leg: the curated corpus lands in
      // an Iceberg table partitioned by split, and the training job
      // reads its split back through partition pruning — files_ok pins
      // that a train-split scan plans strictly fewer files than the
      // table holds (identity-partition pruning), while the per-source
      // aggregates must match the p01 oracle exactly (the Iceberg round
      // trip loses nothing).
      Some(s"""
        WITH ${DedupQueries.minhashCandSql},
        ${DedupQueries.clusterLabelsSql},
        q AS (
          SELECT doc_id, source,
                 len(regexp_split_to_array(trim(text), '\\s+')) AS n_tok,
                 round(0.5 * (CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                         x -> list_contains(['the','and','is','of','to','a','in'], x))) AS DOUBLE)
                       / len(regexp_split_to_array(trim(text), '\\s+')))
                     + 0.3 * (1.0 - CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
                                    / length(text))
                     + 0.2 * least(CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS DOUBLE) / 100.0, 1.0), 6)
                   AS quality
          FROM documents),
        surv AS (
          SELECT q.doc_id, q.source, q.n_tok
          FROM q JOIN l3 ON l3.doc_id = q.doc_id AND l3.label = q.doc_id
          WHERE q.quality >= 0.5
            AND ('0x' || substring(md5(CAST(q.doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 90)
        SELECT CAST(TRUE AS BOOLEAN) AS files_ok, source, COUNT(*) AS n_docs,
               CAST(SUM(n_tok) AS BIGINT) AS n_tokens
        FROM surv GROUP BY source ORDER BY source"""),
      (s, dir) => {
        val table = java.nio.file.Files
          .createTempDirectory("graft_p02_").toString + "/corpus"
        graft.iceberg.IcebergWriter.write(
          curated(s, dir).select("doc_id", "source", "n_tok", "split")
            .repartition(3, col("split")),
          table, partitionBy = Seq("split" -> "identity"))
        val cond = col("split") === "train"
        import graft.iceberg.IcebergScan
        import graft.iceberg.IcebergScan.Options
        val total = IcebergScan.scan(s, table, Options(mode = "list_files"))
          .filter(col("type") === "data").agg(count(lit(1)).as("ft"))
        val kept = IcebergScan.scanFiltered(s, table, cond,
          Options(mode = "list_files"))
          .filter(col("type") === "data").agg(count(lit(1)).as("fk"))
        val agg = IcebergScan.scanFiltered(s, table, cond)
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
               sum(col("n_tok")).cast("long").as("n_tokens"))
        agg.crossJoin(
            total.crossJoin(kept).select((col("fk") < col("ft")).as("files_ok")))
          .select("files_ok", "source", "n_docs", "n_tokens")
          .orderBy("source")
      }
    ),
    QueryDef(
      "p03_sequence_packing",
      // Pre-tokenization SEQUENCE PACKING: documents are laid into
      // fixed-token-budget training sequences ("packs") without being
      // split — each doc goes to the pack where its start offset falls
      // (pack may overflow by at most one doc, the standard
      // document-boundary packing rule). The running offset is a window
      // cumsum, which is inherently sequential PER PARTITION — so the
      // corpus is sharded by a content-free doc_id hash first and packed
      // within (source, shard): every window partition is corpus/(sources
      // × shards), bounded and parallel at any scale (at 100 TB raise
      // SHARDS to ~10× cores; packs never cross shards so determinism
      // holds). Output audits pack counts and fill efficiency per source.
      Some(s"""
        WITH toks AS (
          SELECT doc_id, source,
                 len(regexp_split_to_array(trim(text), '\\s+')) AS n_tok,
                 ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '#pack'), 1, 8))::BIGINT % 8 AS shard
          FROM documents),
        offsets AS (
          SELECT source, shard, n_tok,
                 COALESCE(SUM(n_tok) OVER (PARTITION BY source, shard ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev_cum
          FROM toks),
        packs AS (
          SELECT source, shard, prev_cum // 2048 AS pack_id,
                 CAST(SUM(n_tok) AS BIGINT) AS pack_tok, COUNT(*) AS n_docs
          FROM offsets GROUP BY source, shard, pack_id)
        SELECT source, COUNT(*) AS n_packs, CAST(SUM(n_docs) AS BIGINT) AS n_docs,
               CAST(MAX(pack_tok) AS BIGINT) AS max_pack_tokens,
               round(AVG(pack_tok / CAST(2048.0 AS DOUBLE)), 6) AS avg_fill
        FROM packs GROUP BY source ORDER BY source"""),
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val Budget = 2048
        val Shards = 8
        val shard = conv(substring(md5(concat(col("doc_id").cast("string"),
            lit("#pack")).cast("binary")), 1, 8), 16, 10).cast("long") % Shards
        val toks = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            size(toksAll).as("n_tok"), shard.as("shard"))
        val w = Window.partitionBy("source", "shard").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        toks
          .withColumn("prev_cum", coalesce(sum("n_tok").over(w), lit(0L)))
          .withColumn("pack_id", floor(col("prev_cum") / Budget))
          .groupBy("source", "shard", "pack_id")
          .agg(sum("n_tok").cast("long").as("pack_tok"),
               count(lit(1)).as("n_docs"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_packs"),
               sum("n_docs").cast("long").as("n_docs"),
               max("pack_tok").cast("long").as("max_pack_tokens"),
               round(avg(col("pack_tok") / Budget.toDouble), 6).as("avg_fill"))
          .orderBy("source")
      }
    ),
    QueryDef(
      "p04_source_mixing",
      // Deterministic WEIGHTED SOURCE MIXING (epoch construction): each
      // source gets a mixture weight; a doc appears floor(w) times plus
      // one more when its content-free hash fraction falls under
      // frac(w) — so expected copies = w exactly, with zero RNG state and
      // bit-identical epochs across engines and re-runs. The expansion is
      // a per-row array_repeat + explode (linear, no shuffle until the
      // final audit agg); at 100 TB the explode multiplies bytes by at
      // most max(w), never materializing driver-side state.
      Some(s"""
        WITH base AS (
          SELECT doc_id, source,
                 len(regexp_split_to_array(trim(text), '\\s+')) AS n_tok,
                 CAST(0.5 + (CAST(substring(source, 4) AS INTEGER) % 4) * 0.75 AS DOUBLE) AS weight,
                 CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '#mix'), 1, 8))::BIGINT % 1000000 AS DOUBLE) / 1000000.0 AS u
          FROM documents),
        expanded AS (
          SELECT source, weight, n_tok,
                 unnest(range(0, CAST(floor(weight) AS INTEGER)
                                 + CASE WHEN u < weight - floor(weight) THEN 1 ELSE 0 END)) AS rep
          FROM base)
        SELECT source, weight, COUNT(*) AS docs_out,
               CAST(SUM(n_tok) AS BIGINT) AS tokens_out
        FROM expanded GROUP BY source, weight ORDER BY source"""),
      (s, dir) => {
        val weight = lit(0.5) +
          (substring(col("source"), 4, 10).cast("int") % 4).cast("double") * 0.75
        val u = (conv(substring(md5(concat(col("doc_id").cast("string"),
            lit("#mix")).cast("binary")), 1, 8), 16, 10).cast("long") % 1000000)
          .cast("double") / 1000000.0
        val copies = (floor(weight) +
          when(u < weight - floor(weight), 1).otherwise(0)).cast("int")
        Tables.load(s, dir, "documents")
          .select(col("source"), weight.as("weight"),
            size(toksAll).as("n_tok"), copies.as("n_copies"))
          .withColumn("rep", explode(array_repeat(lit(1), col("n_copies"))))
          .groupBy("source", "weight")
          .agg(count(lit(1)).as("docs_out"),
               sum("n_tok").cast("long").as("tokens_out"))
          .orderBy("source")
      }
    )
  )
}
