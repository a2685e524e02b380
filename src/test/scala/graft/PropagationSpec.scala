package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.Generate
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftSessions, PlanWalk, SparkEntry, Tables}

/** Label-propagation core (d06): the pinned 3-round variant is the oracle
  * contract; the fixpoint variant must find true connected components on
  * graphs DEEPER than 3 hops and stop once no label changes. Both match a
  * plain-Scala min-label model, and the lazy plan grows linearly in
  * rounds. */
class PropagationSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession =
    GraftSessions.builder("local[4]", "4").appName("graft-prop").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** Path graph 1-2-3-4-5 (diameter 4) plus an isolated pair 10-11. */
  private def fixtures = {
    import spark.implicits._
    val edgesDirected = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
      .toDF("s", "d")
    val edges = edgesDirected.union(edgesDirected.select(col("d"), col("s")))
    val labels0 = Seq(1L, 2L, 3L, 4L, 5L, 10L, 11L)
      .toDF("doc_id").select(col("doc_id"), col("doc_id").as("label"))
    (labels0, edges)
  }

  /** A seeded random undirected graph on `base until base + n` (both
    * directions listed): a path of 7-8 hops through shuffled ids (every
    * node on it is 4+ hops from one end, so 3 rounds cannot close it), a
    * random graph on the other nodes (self-loops possible) but 2-4 that
    * keep no edge at all, and a few edges listed twice. */
  private def randomGraph(seed: Int, base: Long): (Seq[Long], Seq[(Long, Long)]) = {
    val rnd = new scala.util.Random(seed)
    val nodes = rnd.shuffle((base until base + 16 + rnd.nextInt(12)).toList)
    val (path, others) = nodes.splitAt(8 + rnd.nextInt(2))
    val linked = others.drop(2 + rnd.nextInt(3))
    val extra = Seq.fill(2 * linked.size)(
      (linked(rnd.nextInt(linked.size)), linked(rnd.nextInt(linked.size))))
    val undirected = path.sliding(2).map(p => (p(0), p(1))).toSeq ++ extra
    val twice = Seq.fill(3)(undirected(rnd.nextInt(undirected.size)))
    (nodes, (undirected ++ twice).flatMap { case (a, b) => Seq((a, b), (b, a)) })
  }

  /** `rounds` rounds of min-label propagation: each node takes the least
    * label among itself and its neighbors. */
  private def model(nodes: Seq[Long], edges: Seq[(Long, Long)], rounds: Int): Map[Long, Long] = {
    val nbrs = edges.groupMap(_._1)(_._2)
    (1 to rounds).foldLeft(nodes.map(v => v -> v).toMap) { (lab, _) =>
      lab.map { case (v, l) => v -> (l +: nbrs.getOrElse(v, Nil).map(lab)).min }
    }
  }

  test("3 pinned rounds cannot close a diameter-4 path (oracle shape)") {
    val (labels0, edges) = fixtures
    val got = DedupQueries.propagate(labels0, edges, fixpoint = false, maxRounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // node 5 is 4 hops from node 1: after 3 rounds it only reached label 2
    assert(got(5L) === 2L)
    assert(got(1L) === 1L && got(2L) === 1L && got(3L) === 1L && got(4L) === 1L)
    assert(got(10L) === 10L && got(11L) === 10L)
    got.values // no cache leak check possible here; propagate unpersisted internally
  }

  test("fixpoint converges on a diameter-4 path and stops changing") {
    val (labels0, edges) = fixtures
    val got = DedupQueries.propagate(labels0, edges, fixpoint = true, maxRounds = 50)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 4L, 5L).forall(got(_) == 1L))
    assert(got(10L) === 10L && got(11L) === 10L)
  }

  test("propagate releases its caches (no storage leak across generations)") {
    val (labels0, edges) = fixtures
    val before = spark.sparkContext.getPersistentRDDs.size
    val out = DedupQueries.propagate(labels0, edges, fixpoint = true, maxRounds = 50)
    val during = spark.sparkContext.getPersistentRDDs.size
    // only the FINAL generation may remain cached
    assert(during <= before + 1)
    out.unpersist()
  }

  test("3 lazy rounds and the fixpoint match the model on 20 random graphs") {
    import spark.implicits._
    val graphs = (1 to 20).map(seed => seed -> randomGraph(seed, seed * 1000L))
    // the graphs share no node, so one propagation over their union runs all
    val labels0 = graphs.flatMap(_._2._1).toDF("doc_id")
      .select(col("doc_id"), col("doc_id").as("label"))
    val edges = graphs.flatMap(_._2._2).toDF("s", "d")
    def run(fixpoint: Boolean, rounds: Int): Map[Long, Long] = {
      val out = DedupQueries.propagate(labels0, edges, fixpoint, rounds)
      try out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap finally out.unpersist()
    }
    for ((fixpoint, rounds) <- Seq(false -> 3, true -> 50)) {
      val got = run(fixpoint, rounds)
      assert(got.size === graphs.map(_._2._1.size).sum, s"fixpoint=$fixpoint")
      graphs.foreach { case (seed, (nodes, es)) =>
        assert(nodes.map(v => v -> got(v)).toMap === model(nodes, es, rounds),
          s"fixpoint=$fixpoint seed=$seed")
      }
    }
    // every path is deeper than 3 rounds reach
    assert(graphs.forall { case (_, (nodes, es)) => model(nodes, es, 3) != model(nodes, es, 50) })
  }

  test("the lazy plan grows by the same node count every round") {
    val (labels0, edges) = fixtures
    def nodes(rounds: Int): Int =
      DedupQueries.propagate(labels0, edges, fixpoint = false, rounds)
        .queryExecution.analyzed.collect { case p => p }.size
    val Seq(n1, n2, n3) = Seq(1, 2, 3).map(nodes)
    assert(n3 - n2 === n2 - n1, s"analyzed nodes after 1, 2, 3 rounds: $n1, $n2, $n3")
  }

  /** A `documents` directory holding `docs` (doc_id, text), as the
    * query builders load it. */
  private def documentsDir(docs: Seq[(Long, String)]): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_prop_docs_").toString
    docs.toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    dir
  }

  /** 80 documents over a 30-word vocabulary; every 8th is a
    * near-duplicate of the one before it. */
  private lazy val nearDupDocs: String = {
    val rnd = new scala.util.Random(7)
    val vocab = (0 until 30).map(i => s"w$i")
    val texts = (0 until 80).map(_ => Seq.fill(10 + rnd.nextInt(20))(vocab(rnd.nextInt(30))).mkString(" "))
    documentsDir(texts.indices.map { i =>
      (i.toLong, if (i % 8 == 7) texts(i - 1) + " dup" else texts(i))
    })
  }

  test("d06 plans one band pipeline per round and runs it once") {
    val df = SparkEntry.queries("d06_dedup_clusters")(spark, nearDupDocs)
    // posexplode per band side, two sides, 3 rounds; one stack each
    val generates = df.queryExecution.optimizedPlan.collect { case g: Generate => g }.size
    assert(generates <= 9, s"$generates Generate nodes")
    assert(df.collect().count(r => r.getLong(0) != r.getLong(1)) >= 10)
    val reused = PlanWalk.collect(df.queryExecution.executedPlan) { case r: ReusedExchangeExec => r }
    assert(reused.nonEmpty, df.queryExecution.executedPlan.toString.take(3000))
  }

  test("the band pipeline is one narrow projection and the bands' posexplode") {
    graft.functions.GraftFunctions.register(spark)
    val bands = DedupQueries.minhashBands(Tables.load(spark, nearDupDocs, "documents"))
    assert(bands.count() === 80 * 4)
    val generates = bands.queryExecution.optimizedPlan.collect { case g: Generate => g }
    assert(generates.size === 1, bands.queryExecution.optimizedPlan.toString)
    val shuffles = PlanWalk.collect(bands.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec => e
    }
    assert(shuffles.isEmpty, bands.queryExecution.executedPlan.toString)
  }

  test("a document with fewer than two tokens is its own d06 cluster") {
    // such a document has no bigram: no bands, no candidate pair
    for (short <- Seq("hello", "", "   ")) {
      val dir = documentsDir(Seq(0L -> short, 1L -> "a b c d e", 2L -> "a b c d e f"))
      val got = SparkEntry.queries("d06_dedup_clusters")(spark, dir)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got.keySet === Set(0L, 1L, 2L), s"text '$short'")
      assert(got.collect { case (d, 0L) => d }.toSeq === Seq(0L), s"text '$short'")
    }
  }
}
