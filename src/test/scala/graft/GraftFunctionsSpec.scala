package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.sql.GraftSql

/** The custom Catalyst expressions: `graft_dot`'s value parity with the
  * higher-order-function formulation, null/length semantics, SQL
  * registration and mixed element types; `graft_shingle_hashes` and
  * `graft_minhash` against the lambda / string-hash / explode + group
  * formulations they replace; `graft_nfc`. */
class GraftFunctionsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = {
    val s = GraftSessions.builder("local[4]", "4").appName("graft-fns").getOrCreate()
    GraftSql.register(s)
    s
  }

  override def afterAll(): Unit = spark.stop()

  test("graft_dot equals the zip_with + aggregate fold bit-for-bit") {
    import spark.implicits._
    val r = new scala.util.Random(1)
    val rows = Seq.fill(50)((
      Array.fill(64)(r.nextFloat() * 2 - 1),
      Array.fill(64)(r.nextFloat() * 2 - 1)))
    val df = rows.toDF("a", "b")
      .withColumn("fast", call_function("graft_dot", col("a"), col("b")))
      .withColumn("slow", aggregate(
        zip_with(col("a"), col("b"), (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, v) => acc + v))
    assert(df.filter(col("fast") =!= col("slow")).count() === 0)
  }

  test("graft_dot handles mixed numeric element types (float × int)") {
    import spark.implicits._
    val df = Seq((Array(1.5f, 2.5f), Array(3, 4))).toDF("a", "b")
      .select(call_function("graft_dot", col("a"), col("b")).as("d"))
    assert(df.collect()(0).getDouble(0) === 1.5 * 3 + 2.5 * 4)
  }

  test("graft_dot null semantics: null array, null element, length mismatch") {
    val df = spark.sql("""
      SELECT graft_dot(CAST(NULL AS ARRAY<DOUBLE>), array(1.0D)) AS a,
             graft_dot(array(1.0D, CAST(NULL AS DOUBLE)), array(1.0D, 2.0D)) AS b,
             graft_dot(array(1.0D), array(1.0D, 2.0D)) AS c,
             graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d""")
    val r = df.collect()(0)
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2))
    assert(r.getDouble(3) === 11.0)
  }

  test("graft_dot rejects non-numeric arrays at analysis") {
    val e = intercept[Exception] {
      spark.sql("SELECT graft_dot(array('x'), array('y'))").collect()
    }
    assert(e.getMessage.toLowerCase.contains("numeric"))
  }

  test("graft_dot works via the session-extensions injection path") {
    val fresh = spark.newSession()
    // fresh session shares the extensions-less registry; runtime register
    GraftSql.register(fresh)
    assert(fresh.sql("SELECT graft_dot(array(2.0D), array(8.0D))")
      .collect()(0).getDouble(0) === 16.0)
  }

  /** Seeded token arrays of 0-11 tokens over a small vocabulary with
    * multi-byte UTF-8 words (and the empty token `split` yields for blank
    * text); every 4th array is one such array twice, so shingles repeat
    * inside a document. Read back through a shuffle: a local relation
    * would be projected by the optimizer, never by the executed plan. */
  private def tokenFrame(seed: Int): DataFrame = {
    import spark.implicits._
    val vocab = Seq("a", "b", "the", "", "naïve", "ß", "Ωμέγα", "日本語", "😀x", "é")
    val r = new scala.util.Random(seed)
    (0 until 300).map { id =>
      val t = Seq.fill(r.nextInt(12))(vocab(r.nextInt(vocab.size)))
      (id.toLong, if (id % 4 == 0) t ++ t else t)
    }.toDF("id", "t").repartition(3)
  }

  /** Whole-stage codegen and generated projections on, then both off
    * (interpreted projections). */
  private def bothCodegenModes(body: => Unit): Unit =
    Seq("true" -> "CODEGEN_ONLY", "false" -> "NO_CODEGEN").foreach { case (wholeStage, factory) =>
      spark.conf.set("spark.sql.codegen.wholeStage", wholeStage)
      spark.conf.set("spark.sql.codegen.factoryMode", factory)
      try withClue(s"codegen $factory: ")(body)
      finally {
        spark.conf.unset("spark.sql.codegen.wholeStage")
        spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    }

  test("graft_shingle_hashes equals the distinct-shingle lambda + md5/conv hash as a multiset") {
    for (n <- Seq(2, 5); seed <- Seq(11, 12)) bothCodegenModes {
      val window = (0 until n).map(j => s"element_at(t, i + $j)").mkString(", ")
      val df = tokenFrame(seed).selectExpr("t",
        s"array_sort(graft_shingle_hashes(t, $n)) AS fast",
        s"""CASE WHEN size(t) >= $n THEN array_sort(transform(
              array_distinct(transform(sequence(1, size(t) - ${n - 1}),
                i -> concat_ws(' ', $window))),
              w -> CAST(conv(substring(md5(CAST(w AS BINARY)), 1, 15), 16, 10) AS BIGINT)))
            ELSE array() END AS slow""")
      val rows = df.collect()
      val bad = rows.filter(r => r.getSeq[Long](1) != r.getSeq[Long](2))
      assert(bad.isEmpty, s"n=$n seed=$seed: ${bad.take(3).mkString("; ")}")
      // arrays shorter than n give no shingle, and some documents repeat one
      assert(rows.exists(r => r.getSeq[String](0).size < n && r.getSeq[Long](1).isEmpty))
      assert(rows.exists(r => r.getSeq[String](0).sliding(n).toSeq.distinct.size <
        r.getSeq[String](0).sliding(n).size))
    }
  }

  test("graft_minhash equals the explode + group-by + min formulation") {
    val p = graft.functions.MinHash.P
    val k = 16
    for (seed <- Seq(21, 22)) bothCodegenModes {
      val hashes = tokenFrame(seed).select(col("id"),
        call_function("graft_shingle_hashes", col("t"), lit(2)).as("h"))
      val fast = hashes.select(col("id"),
        call_function("graft_minhash", col("h"), lit(k)).as("mh"))
      val mins = (0 until k).map(i => min((col("h") % p * (2 * i + 1)) % p).as(s"m$i"))
      val slow = hashes.select(col("id"), explode(col("h")).as("h"))
        .groupBy("id").agg(mins.head, mins.tail: _*)
        .select(col("id"), array((0 until k).map(i => col(s"m$i")): _*).as("mh"))
      val got = fast.collect().map(r => r.getLong(0) -> Option(r.getSeq[Long](1))).toMap
      val want = slow.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      assert(got.size === 300)
      // a document with no shingle has no group and no signature
      got.foreach { case (id, mh) => assert(mh === want.get(id), s"seed=$seed id=$id") }
      assert(got.values.exists(_.isEmpty) && got.values.exists(_.nonEmpty))
    }
  }

  test("graft_shingle_hashes and graft_minhash: NULL, empty, short and NULL-token inputs") {
    val r = spark.sql("""
      SELECT graft_shingle_hashes(CAST(NULL AS ARRAY<STRING>), 2) AS a,
             graft_shingle_hashes(array(), 2) AS b,
             graft_shingle_hashes(array('hello'), 2) AS c,
             graft_shingle_hashes(array('a', NULL, 'b', 'c'), 2) AS d,
             graft_shingle_hashes(array('a b', 'c', 'a', 'b c'), 2) AS e,
             CAST(conv(substring(md5('b c'), 1, 15), 16, 10) AS BIGINT) AS bc,
             graft_minhash(CAST(NULL AS ARRAY<BIGINT>), 4) AS f,
             graft_minhash(array(), 4) AS g,
             graft_minhash(array(CAST(NULL AS BIGINT)), 4) AS h,
             graft_minhash(array(CAST(2147483650 AS BIGINT), 5), 2) AS i""").collect()(0)
    assert(r.isNullAt(0))
    assert(r.getSeq[Long](1).isEmpty && r.getSeq[Long](2).isEmpty)
    // only the window without the NULL token is a shingle
    assert(r.getSeq[Long](3) === Seq(r.getLong(5)))
    // shingles are distinct by their joined text: "a b c", "c a", "a b c"
    assert(r.getSeq[Long](4).size === 2)
    assert(r.isNullAt(6) && r.isNullAt(7) && r.isNullAt(8))
    // 2147483650 % P = 3: min(3, 5) = 3, min(9, 15) = 9
    assert(r.getSeq[Long](9) === Seq(3L, 9L))
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ messages(t.getCause)
    Seq("graft_shingle_hashes(array('a'), 0)", "graft_minhash(array(1L), -2)",
        "graft_shingle_hashes(array('a'), CAST(rand() * 3 AS INT))").foreach { call =>
      val e = intercept[Throwable](spark.sql(s"SELECT $call").collect())
      assert(messages(e).exists(_.contains(call.takeWhile(_ != '('))), call)
    }
  }

  test("graft_shingle_hashes and graft_minhash work via the session-extensions injection path") {
    val fresh = spark.newSession()
    GraftSql.register(fresh)
    val mh = fresh.sql(
      "SELECT graft_minhash(graft_shingle_hashes(array('x', 'y', 'x', 'y'), 2), 3)")
      .collect()(0).getSeq[Long](0)
    assert(mh.size === 3 && mh.forall(v => v >= 0 && v < graft.functions.MinHash.P))
  }

  test("graft_nfc normalizes decomposed sequences, passes NFC through, nulls propagate") {
    import spark.implicits._
    val decomposed = "e\u0301"   // e + COMBINING ACUTE, 3 UTF-8 bytes
    val precomposed = "\u00e9"   // é, 2 UTF-8 bytes
    val ring = "A\u030a"         // A + COMBINING RING
    val ringNfc = "\u00c5"       // Å
    val df = Seq(decomposed, "already nfc", null, ring).toDF("s")
      .selectExpr("graft_nfc(s) AS n", "octet_length(graft_nfc(s)) AS b",
        "graft_nfc(graft_nfc(s)) AS nn")
    val rows = df.collect()
    assert(rows(0).getString(0) == precomposed)
    assert(rows(0).getInt(1) == 2)
    assert(rows(0).getString(2) == precomposed) // idempotent
    assert(rows(1).getString(0) == "already nfc")
    assert(rows(2).isNullAt(0) && rows(2).isNullAt(1))
    assert(rows(3).getString(0) == ringNfc)
    // untyped NULL literal → NULL (DuckDB nfc_normalize(NULL) parity)
    assert(spark.sql("SELECT graft_nfc(NULL)").collect()(0).isNullAt(0))
    // non-string input fails analysis
    val e = intercept[Exception] {
      spark.sql("SELECT graft_nfc(42)").collect()
    }
    assert(e.getMessage.toLowerCase.contains("string"))
  }
}
