package graft.queries

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline over `documents`:
  * language-ID (stopword heuristic), quality scoring, token counting
  * (whitespace + a BPE-ish ceil(len/4) subword proxy), and document
  * fingerprinting. All computations are per-row double/int arithmetic or
  * exact aggregation → bit-identical across engines.
  */
object TextQueries {

  /** Whitespace tokens of the trimmed text. */
  private def tokens: Column = split(trim(col("text")), "\\s+")

  private val langProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "is", "data", "query", "table"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "la", "de", "los", "es"),
    "fr" -> Seq("le", "les", "des", "est", "une"))

  private def sqlList(ws: Seq[String]): String = ws.map(w => s"'$w'").mkString(", ")

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "t01_lang_id",
      Some(s"""
        WITH scored AS (
          SELECT doc_id, lang,
                 len(list_intersect(list_distinct(regexp_split_to_array(trim(text), '\\s+')),
                     [${sqlList(langProfiles(0)._2)}])) AS s_en,
                 len(list_intersect(list_distinct(regexp_split_to_array(trim(text), '\\s+')),
                     [${sqlList(langProfiles(1)._2)}])) AS s_de,
                 len(list_intersect(list_distinct(regexp_split_to_array(trim(text), '\\s+')),
                     [${sqlList(langProfiles(2)._2)}])) AS s_es,
                 len(list_intersect(list_distinct(regexp_split_to_array(trim(text), '\\s+')),
                     [${sqlList(langProfiles(3)._2)}])) AS s_fr
          FROM documents)
        SELECT doc_id, lang, s_en, s_de, s_es, s_fr,
               CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
                    WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
                    WHEN s_es >= s_fr THEN 'es'
                    ELSE 'fr' END AS lang_pred
        FROM scored ORDER BY doc_id"""),
      (s, dir) => {
        val base = Tables.load(s, dir, "documents")
          .withColumn("__toks", array_distinct(tokens))
        val scored = langProfiles.foldLeft(base) { case (df, (code, words)) =>
          df.withColumn(s"s_$code",
            size(array_intersect(col("__toks"), array(words.map(lit): _*))))
        }
        scored.withColumn("lang_pred",
            when(col("s_en") >= col("s_de") && col("s_en") >= col("s_es") && col("s_en") >= col("s_fr"), "en")
              .when(col("s_de") >= col("s_es") && col("s_de") >= col("s_fr"), "de")
              .when(col("s_es") >= col("s_fr"), "es")
              .otherwise("fr"))
          .select("doc_id", "lang", "s_en", "s_de", "s_es", "s_fr", "lang_pred")
          .orderBy("doc_id")
      }
    ),
    QueryDef(
      "t02_quality_score",
      Some("""
        WITH f AS (
          SELECT doc_id,
                 length(text) AS n_chars_c,
                 len(regexp_split_to_array(trim(text), '\s+')) AS n_tok,
                 length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct,
                 len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                     x -> list_contains(['the','and','is','of','to','a','in'], x))) AS n_stop
          FROM documents)
        SELECT doc_id, n_chars_c, n_tok,
               round(CAST(n_punct AS DOUBLE) / n_chars_c, 6) AS punct_ratio,
               round(CAST(n_stop AS DOUBLE) / n_tok, 6) AS stop_ratio,
               round(0.5 * (CAST(n_stop AS DOUBLE) / n_tok)
                   + 0.3 * (1.0 - CAST(n_punct AS DOUBLE) / n_chars_c)
                   + 0.2 * least(CAST(n_tok AS DOUBLE) / 100.0, 1.0), 6) AS quality
        FROM f ORDER BY doc_id"""),
      (s, dir) => {
        val stop = array(Seq("the", "and", "is", "of", "to", "a", "in").map(lit): _*)
        Tables.load(s, dir, "documents")
          .withColumn("n_chars_c", length(col("text")))
          .withColumn("n_tok", size(tokens))
          .withColumn("n_punct",
            length(col("text")) - length(regexp_replace(col("text"), "[.,!?;:]", "")))
          .withColumn("n_stop", size(filter(tokens, x => array_contains(stop, x))))
          .select(
            col("doc_id"), col("n_chars_c"), col("n_tok"),
            round(col("n_punct").cast("double") / col("n_chars_c"), 6).as("punct_ratio"),
            round(col("n_stop").cast("double") / col("n_tok"), 6).as("stop_ratio"),
            round(col("n_stop").cast("double") / col("n_tok") * 0.5
              + (lit(1.0) - col("n_punct").cast("double") / col("n_chars_c")) * 0.3
              + least(col("n_tok").cast("double") / 100.0, lit(1.0)) * 0.2, 6).as("quality"))
          .orderBy("doc_id")
      }
    ),
    QueryDef(
      "t03_token_count",
      // whitespace tokens + BPE-ish subword proxy: ceil(len/4) units/token
      Some("""
        SELECT doc_id, COUNT(*) AS n_tokens,
               CAST(SUM(CAST(ceil(length(w) / 4.0) AS BIGINT)) AS BIGINT) AS n_subwords
        FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
              FROM documents) t
        GROUP BY doc_id ORDER BY doc_id"""),
      (s, dir) =>
        Tables.load(s, dir, "documents")
          .select(col("doc_id"), explode(tokens).as("w"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_tokens"),
               sum(ceil(length(col("w")) / 4.0).cast("long")).as("n_subwords"))
          .orderBy("doc_id")
    ),
    QueryDef(
      "t05_top_tokens",
      // corpus vocabulary: top-100 tokens by frequency (deterministic
      // tie-break on the token) — map-side partial aggregation + a top-k
      // sort, no global shuffle of the token stream beyond the hash agg
      Some("""
        SELECT w, COUNT(*) AS cnt FROM (
          SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w
          FROM documents) t
        GROUP BY w ORDER BY cnt DESC, w LIMIT 100"""),
      (s, dir) =>
        Tables.load(s, dir, "documents")
          .select(explode(split(trim(col("text")), "\\s+")).as("w"))
          .groupBy("w").agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("w"))
          .limit(100)
    ),
    QueryDef(
      "t07_decontaminate",
      // Benchmark decontamination — the pretraining hygiene op dedup does
      // NOT cover: per train document (doc_id >= 50), the fraction of its
      // distinct 5-token shingles that appear anywhere in the eval set
      // (doc_id < 50). The eval shingle set is tiny → broadcast; the train
      // side is one linear scan + hash agg, no candidate explosion. Docs
      // shorter than 5 tokens carry no shingles and are excluded on both
      // engines.
      Some("""
        WITH tok AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
          FROM documents),
        sh AS (
          SELECT doc_id,
                 ('0x' || substring(md5(unnest(list_distinct(list_transform(
                     range(1, len(w) - 3),
                     i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                          || ' ' || w[i+3] || ' ' || w[i+4])))), 1, 15))::BIGINT AS h
          FROM tok WHERE len(w) >= 5),
        ev AS (SELECT DISTINCT h FROM sh WHERE doc_id < 50),
        tr AS (SELECT doc_id, h FROM sh WHERE doc_id >= 50)
        SELECT tr.doc_id,
               COUNT(*) AS n_shingles,
               COUNT(ev.h) AS n_hits,
               round(CAST(COUNT(ev.h) AS DOUBLE) / COUNT(*), 6) AS overlap,
               CAST(round(CAST(COUNT(ev.h) AS DOUBLE) / COUNT(*), 6) >= 0.2 AS INT) AS contaminated
        FROM tr LEFT JOIN ev ON ev.h = tr.h
        GROUP BY tr.doc_id
        ORDER BY tr.doc_id"""),
      (s, dir) => {
        graft.functions.GraftFunctions.register(s)
        val docs = Tables.load(s, dir, "documents")
        def shingles(df: org.apache.spark.sql.DataFrame) =
          df.select(col("doc_id"), explode(call_function("graft_shingle_hashes",
            split(trim(col("text")), "\\s+"), lit(5))).as("h"))
        val evalH = shingles(docs.filter(col("doc_id") < 50))
          .select(col("h"), lit(1).as("__hit")).distinct()
        shingles(docs.filter(col("doc_id") >= 50))
          .join(broadcast(evalH), Seq("h"), "left")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_shingles"), count(col("__hit")).as("n_hits"))
          .withColumn("overlap",
            round(col("n_hits").cast("double") / col("n_shingles"), 6))
          .withColumn("contaminated",
            when(col("overlap") >= 0.2, 1).otherwise(0))
          .orderBy("doc_id")
      }
    ),
    QueryDef(
      "t06_train_split",
      // Deterministic 90/5/5 train/val/test assignment by content-free id
      // hash — reproducible across engines and runs, no RNG state. The
      // per-(source, split) counts audit the mixture.
      Some("""
        WITH assigned AS (
          SELECT source,
                 CASE WHEN ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 90 THEN 'train'
                      WHEN ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 95 THEN 'val'
                      ELSE 'test' END AS split
          FROM documents)
        SELECT source, split, COUNT(*) AS cnt
        FROM assigned GROUP BY source, split
        ORDER BY source, split"""),
      (s, dir) => {
        val h = conv(substring(md5(col("doc_id").cast("string").cast("binary")), 1, 8), 16, 10)
          .cast("long") % 100
        Tables.load(s, dir, "documents")
          .withColumn("split",
            when(h < 90, "train").when(h < 95, "val").otherwise("test"))
          .groupBy("source", "split").agg(count(lit(1)).as("cnt"))
          .orderBy("source", "split")
      }
    ),
    QueryDef(
      "t08_balanced_sample",
      // Language-balanced downsampling: every language keeps a
      // deterministic hash-selected subset sized toward the rarest
      // language (rate = min_count / count). The rate table is 5 rows —
      // broadcast — so the whole rebalance is one linear scan plus a tiny
      // agg: the standard training-mix rebalancing pass at corpus scale.
      // Same content-free md5(doc_id) hash family as t06; the integer
      // cross-multiply keeps the keep-decision exact on both engines.
      Some("""
        WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
        m AS (SELECT MIN(n) AS mn FROM c),
        k AS (SELECT d.lang
              FROM documents d JOIN c ON c.lang = d.lang CROSS JOIN m
              WHERE ('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT % 1048576 * c.n
                    < 1048576 * m.mn)
        SELECT lang, COUNT(*) AS kept FROM k GROUP BY lang ORDER BY lang"""),
      (s, dir) => {
        val h = conv(substring(md5(col("doc_id").cast("string").cast("binary")), 1, 8), 16, 10)
          .cast("long") % 1048576L
        val docs = Tables.load(s, dir, "documents")
        val counts = docs.groupBy("lang").agg(count(lit(1)).as("n"))
        val mn = counts.agg(min(col("n")).as("mn"))
        docs.withColumn("h", h)
          .join(broadcast(counts), "lang")
          .crossJoin(broadcast(mn))
          .filter(col("h") * col("n") < lit(1048576L) * col("mn"))
          .groupBy("lang").agg(count(lit(1)).as("kept"))
          .orderBy("lang")
      }
    ),
    QueryDef(
      "t09_repetition_filter",
      // Repetition-based quality filter (the Gopher-rule family): per doc,
      // the duplicate-line fraction (1 - distinct/total over non-blank
      // lines) and duplicate-bigram fraction over whitespace tokens; a doc
      // is kept when both are under threshold (0.30 / 0.20). Pure per-row
      // array arithmetic — one linear scan, no shuffle, exact cross-engine
      // (integer sizes + one double division + round).
      Some("""
        WITH f AS (
          SELECT doc_id,
                 list_filter(string_split(text, chr(10)), x -> trim(x) <> '') AS ln,
                 regexp_split_to_array(trim(text), '\s+') AS w
          FROM documents),
        g AS (
          SELECT doc_id, ln,
                 CASE WHEN len(w) >= 2
                      THEN list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])
                      ELSE [] END AS bg
          FROM f),
        h AS (
          SELECT doc_id,
                 CAST(len(ln) AS BIGINT) AS n_lines,
                 CASE WHEN len(ln) > 0
                      THEN round(1.0 - CAST(len(list_distinct(ln)) AS DOUBLE) / len(ln), 6)
                      ELSE 0.0 END AS dup_line_frac,
                 CAST(len(bg) AS BIGINT) AS n_bigrams,
                 CASE WHEN len(bg) > 0
                      THEN round(1.0 - CAST(len(list_distinct(bg)) AS DOUBLE) / len(bg), 6)
                      ELSE 0.0 END AS dup_2gram_frac
          FROM g)
        SELECT doc_id, n_lines, dup_line_frac, n_bigrams, dup_2gram_frac,
               CAST(dup_line_frac <= 0.3 AND dup_2gram_frac <= 0.2 AS INT) AS keep
        FROM h ORDER BY doc_id"""),
      (s, dir) =>
        Tables.load(s, dir, "documents")
          .withColumn("__ln", filter(split(col("text"), "\n"), x => trim(x) =!= ""))
          .withColumn("__t", tokens)
          .withColumn("__bg", expr(
            """CASE WHEN size(__t) >= 2
                    THEN transform(sequence(1, size(__t) - 1),
                                   i -> concat_ws(' ', element_at(__t, i), element_at(__t, i + 1)))
                    ELSE cast(array() as array<string>) END"""))
          .withColumn("n_lines", size(col("__ln")).cast("long"))
          .withColumn("dup_line_frac",
            when(col("n_lines") > 0,
              round(lit(1.0) - size(array_distinct(col("__ln"))).cast("double") / col("n_lines"), 6))
              .otherwise(0.0))
          .withColumn("n_bigrams", size(col("__bg")).cast("long"))
          .withColumn("dup_2gram_frac",
            when(col("n_bigrams") > 0,
              round(lit(1.0) - size(array_distinct(col("__bg"))).cast("double") / col("n_bigrams"), 6))
              .otherwise(0.0))
          .withColumn("keep",
            when(col("dup_line_frac") <= 0.3 && col("dup_2gram_frac") <= 0.2, 1).otherwise(0))
          .select("doc_id", "n_lines", "dup_line_frac", "n_bigrams", "dup_2gram_frac", "keep")
          .orderBy("doc_id")
    ),
    QueryDef(
      "t10_pii_scrub",
      // PII scrubbing (training-data hygiene): emails and phone numbers
      // replaced by typed placeholders, with per-doc match counts. The
      // synthetic corpus carries no organic PII, so both engines inject
      // the SAME deterministic contact lines first (every 7th doc) — the
      // scrub then provably strips them. Patterns stay in the regex
      // subset RE2 (DuckDB) and java.util.regex share. Linear scan.
      Some("""
        WITH aug AS (
          SELECT doc_id,
                 text || CASE WHEN doc_id % 7 = 0
                   THEN ' contact user' || doc_id ||
                        '@mail.example or +1-555-01' ||
                        lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
                   ELSE '' END AS t
          FROM documents)
        SELECT doc_id,
               CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+')) AS BIGINT) AS n_emails,
               CAST(len(regexp_extract_all(t, '\+1-555-01[0-9]{2}')) AS BIGINT) AS n_phones,
               md5(regexp_replace(regexp_replace(t,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+', '<EMAIL>', 'g'),
                 '\+1-555-01[0-9]{2}', '<PHONE>', 'g')) AS scrubbed_md5
        FROM aug ORDER BY doc_id"""),
      (s, dir) =>
        Tables.load(s, dir, "documents")
          .withColumn("t", concat(col("text"),
            when(col("doc_id") % 7 === 0,
              concat(lit(" contact user"), col("doc_id"),
                lit("@mail.example or +1-555-01"),
                lpad((col("doc_id") % 100).cast("string"), 2, "0")))
              .otherwise(lit(""))))
          .select(
            col("doc_id"),
            regexp_count(col("t"),
              lit("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+")).cast("long").as("n_emails"),
            regexp_count(col("t"),
              lit("\\+1-555-01[0-9]{2}")).cast("long").as("n_phones"),
            md5(regexp_replace(
              regexp_replace(col("t"),
                "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+", "<EMAIL>"),
              "\\+1-555-01[0-9]{2}", "<PHONE>").cast("binary")).as("scrubbed_md5"))
          .orderBy("doc_id")
    ),
    QueryDef(
      "t04_fingerprint",
      // whitespace-normalized hash + order-insensitive sorted-token hash
      Some("""
        SELECT doc_id,
               md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fp_norm,
               md5(array_to_string(list_sort(list_distinct(
                 regexp_split_to_array(trim(text), '\s+'))), ' ')) AS fp_sorted
        FROM documents ORDER BY doc_id"""),
      (s, dir) =>
        Tables.load(s, dir, "documents")
          .select(
            col("doc_id"),
            md5(lower(regexp_replace(col("text"), "\\s+", " ")).cast("binary")).as("fp_norm"),
            md5(array_join(array_sort(array_distinct(tokens)), " ").cast("binary")).as("fp_sorted"))
          .orderBy("doc_id")
    ),
    QueryDef(
      "t11_rare_token_score",
      // Rare-token quality signal (perplexity-proxy filtering without a
      // model): corpus unigram frequencies in one hash agg, then each
      // doc scores the fraction of its token OCCURRENCES whose corpus
      // frequency <= 2. All-integer counts (exact across engines); the
      // final ratio is one correctly-rounded double division. Scale: the
      // token→frequency join keys on the token itself — both sides hash-
      // partition by token, no broadcast of an unbounded vocabulary.
      Some("""
        WITH toks AS (
          SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
          FROM documents),
        freq AS (SELECT w, COUNT(*) AS cf FROM toks GROUP BY w)
        SELECT doc_id, COUNT(*) AS n_tokens,
               CAST(SUM(CASE WHEN cf <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
               round(CAST(SUM(CASE WHEN cf <= 2 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS rare_frac
        FROM toks JOIN freq USING (w)
        GROUP BY doc_id ORDER BY doc_id"""),
      (s, dir) => {
        val toks = Tables.load(s, dir, "documents")
          .select(col("doc_id"), explode(tokens).as("w"))
        val freq = toks.groupBy("w").agg(count(lit(1)).as("cf"))
        toks.join(freq, "w")
          .groupBy("doc_id")
          .agg(
            count(lit(1)).as("n_tokens"),
            sum(when(col("cf") <= 2, 1L).otherwise(0L)).as("n_rare"))
          .withColumn("rare_frac",
            round(col("n_rare").cast("double") / col("n_tokens"), 6))
          .orderBy("doc_id")
      }
    ),
    QueryDef(
      "t12_unicode_normalize",
      // Unicode NFC normalization (round 10): canonical-equivalent byte
      // sequences (decomposed e+U+0301 vs precomposed é) must normalize
      // before exact dedup / MinHash / fingerprinting, or visually
      // identical documents hash apart. Spark has no built-in — this is
      // the custom codegen'd [[graft.functions.NfcNormalize]] expression;
      // DuckDB's native nfc_normalize is the oracle. The fixture appends
      // a decomposed sequence to each doc prefix so normalization
      // provably CHANGES bytes (byte lengths shrink by exactly one),
      // while the already-NFC corpus prefix passes through untouched.
      Some("""
        WITH d AS (
          SELECT doc_id,
                 substr(text, 1, 24) || 'e' || chr(769) || '!' AS raw
          FROM documents)
        SELECT doc_id,
               strlen(raw) AS bytes_raw,
               strlen(nfc_normalize(raw)) AS bytes_nfc,
               md5(nfc_normalize(raw)) AS fp_nfc,
               nfc_normalize(raw) = raw AS was_nfc
        FROM d ORDER BY doc_id"""),
      (s, dir) => {
        graft.sql.GraftSql.register(s)
        val raw = concat(substring(col("text"), 1, 24),
          lit("e"), lit("\u0301"), lit("!")) // e + COMBINING ACUTE (decomposed)
        val nfc = call_function("graft_nfc", raw)
        Tables.load(s, dir, "documents")
          .select(
            col("doc_id"),
            octet_length(raw).cast("long").as("bytes_raw"),
            octet_length(nfc).cast("long").as("bytes_nfc"),
            md5(nfc.cast("binary")).as("fp_nfc"),
            (nfc === raw).as("was_nfc"))
          .orderBy("doc_id")
      }
    )
  )
}
