package perfbench

import java.util.SplittableRandom
import scala.collection.mutable
import scala.collection.parallel.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ml.Dedup

/** The q25 shape: exact-Jaccard pairs (char 3-grams, t = 0.6) over the
  * even-`doc_id` half of a generated 900-doc corpus plus three planted
  * near-duplicates, then connected components over those edges. */
object DedupBench extends Workload {
  val name = "dedup_clusters"
  val CorpusDocs = 900
  val n = 3
  val threshold = 0.6
  val PlantedOffset = 1000000000L
  /** corpus positions per near-duplicate group */
  val GroupSpan = 40
  /** the chain's first corpus position; its docs sit at the even ones */
  val ChainStart = 888
  /** tokens per group base and per chain doc */
  val Window = 12

  def settings: Seq[(String, String)] = Seq(
    "corpus_docs" -> CorpusDocs.toString,
    "input" -> "even doc_id half + 3 planted near-duplicates",
    "jaccard" -> s"exactJaccardPairs(n = $n, t = $threshold) -> connectedComponents")

  /** A corpus whose shape is fixed by position and whose text comes from
    * the seed, so that every seed gives the engine the same amount of work
    * (random lengths and copies would make the edge count and the number
    * of component rounds depend on the seed):
    *  - each group of 40 positions starts with a base of 12 random
    *    five-digit tokens, and its next `g % 20` even positions hold the
    *    base plus " dup" once, twice, …: a clique of near-duplicates;
    *  - the even positions from 888 hold a chain: doc m is tokens 2m until
    *    2m + 12 of one token list, so neighbours score about 0.71 and docs
    *    two apart about 0.5; the path fixes `connectedComponents` at six
    *    rounds;
    *  - every other doc is 10–25 words from the 30-word vocabulary of the
    *    repo's synthetic `documents` table; at these lengths two of them
    *    rarely reach t = 0.6. */
  def corpus(seed: Long): Vector[(Long, String)] = {
    val rnd = new SplittableRandom(seed)
    def token(): String = (10000 + rnd.nextInt(90000)).toString
    val chain = Vector.fill(CorpusDocs - ChainStart + Window)(token())
    val docs = mutable.ArrayBuffer[String]()
    for (i <- 0 until CorpusDocs) {
      val (g, j) = (i / GroupSpan, i % GroupSpan)
      docs += (
        if (i >= ChainStart) {
          val m = (i - ChainStart) / 2
          chain.slice(2 * m, 2 * m + Window).mkString(" ")
        } else if (j == 0) Vector.fill(Window)(token()).mkString(" ")
        else if (j % 2 == 0 && j / 2 <= g % (GroupSpan / 2))
          docs(g * GroupSpan) + " dup" * (j / 2)
        else Vector.fill(10 + (i * 37) % 16)(
          Words(rnd.nextInt(Words.size))).mkString(" "))
    }
    docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toVector
  }

  /** the program's input: the even half plus the planted duplicates (the
    * three smallest ids, re-keyed and with " appended") */
  def input(seed: Long): Vector[(Long, String)] = {
    val half = corpus(seed).filter(_._1 % 2 == 0)
    half ++ half.take(3).map { case (id, t) => (id + PlantedOffset, t + " appended") }
  }

  def prepare(ctx: Ctx): Prepared = new DedupRun(ctx)

  val Words: Vector[String] = Vector("a", "agg", "batch", "big", "column",
    "customer", "data", "fast", "filter", "group", "hash", "join", "key",
    "line", "merge", "order", "part", "query", "row", "scan", "slow", "small",
    "sort", "spark", "stream", "table", "the", "value", "vector", "window")
}

final class DedupRun(ctx: Ctx) extends Prepared {
  import DedupBench.{n, threshold}
  private val spark = ctx.spark
  import spark.implicits._

  private val input = DedupBench.input(ctx.seed)
  private val docs = input.toDF("doc_id", "text")
  private val nodes = docs.select(col("doc_id").as("id"))
  private var last: Option[(DataFrame, DataFrame)] = None
  private var reference: Option[(Set[(Long, Long)], Map[Long, Long])] = None

  def rep(tracing: Option[Tracing]): Rep = {
    tracing.foreach(_.listener.reset())
    val t0 = System.nanoTime()
    val edges = Dedup.exactJaccardPairs(docs, "doc_id", "text", n, threshold)
    val nEdges = edges.count()
    val t1 = System.nanoTime()
    val labels = Dedup.connectedComponents(nodes, edges)
    val nComponents = labels.select("component").distinct().count()
    val t2 = System.nanoTime()
    last = Some((edges, labels))
    val layers = tracing.map { t =>
      val snap = t.listener.snapshot()
      val t0ms = t.spans.nowMs - (t2 - t0) / 1e6
      t.spans.add("ml.jaccard", t0ms, t0ms + (t1 - t0) / 1e6, t.parent)
      t.spans.add("ml.cc", t0ms + (t1 - t0) / 1e6, t0ms + (t2 - t0) / 1e6, t.parent)
      for (j <- snap.jobs)
        t.spans.add(s"job ${j.id}", j.startMs.toDouble, j.endMs.toDouble, t.parent)
      Map("ml.jaccard_s" -> (t1 - t0) / 1e9, "ml.jaccard_pairs" -> nEdges.toDouble,
        "ml.cc_s" -> (t2 - t1) / 1e9, "ml.cc_components" -> nComponents.toDouble,
        "ml.jobs" -> snap.jobs.size.toDouble,
        "ml.shuffle_write_bytes" -> snap.shuffleWrite.toDouble,
        "ml.task_skew" -> snap.heaviestStageSkew)
    }.getOrElse(Map.empty)
    Rep((t2 - t0) / 1e9, input.size.toLong,
      DedupRun.outputs(nEdges, nComponents), layers)
  }

  /** All pairs, scored on one thread per core by Jaccard over sets of
    * lower-cased character n-gram strings (no library code), then
    * union-find for components (label = smallest id). */
  def expected(): String = {
    val (edges, labels) = reference.getOrElse {
      val grams = input.map { case (id, t) =>
        (id, t.toLowerCase.sliding(n).filter(_.length == n).toSet)
      }
      def jaccard(a: Set[String], b: Set[String]): Double = {
        val inter = a.count(b)
        inter.toDouble / (a.size + b.size - inter)
      }
      val m = grams.size
      val edges = (0 until m).par.flatMap { i =>
        (i + 1 until m).collect { case j
          if jaccard(grams(i)._2, grams(j)._2) >= threshold =>
            val (a, b) = (grams(i)._1, grams(j)._1)
            (math.min(a, b), math.max(a, b))
        }
      }.seq.toSet
      val parent = mutable.Map[Long, Long]() ++ input.map(d => d._1 -> d._1)
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        parent(x) = r; r
      }
      for ((a, b) <- edges) {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val labels = input.map(d => d._1 -> find(d._1)).toMap
      reference = Some((edges, labels))
      (edges, labels)
    }
    DedupRun.outputs(edges.size, labels.values.toSet.size)
  }

  def finalChecks(): Seq[String] = {
    val (edges, labels) = last.getOrElse(return Seq("no rep completed"))
    expected()
    val (refEdges, refLabels) = reference.get
    val failures = mutable.ArrayBuffer[String]()
    val got = edges.as[(Long, Long)].collect().toSet
    if (got != refEdges)
      failures += s"edge set differs from the all-pairs reference " +
        s"(${(got -- refEdges).size} extra, ${(refEdges -- got).size} missing)"
    def labelsOf(df: DataFrame) =
      df.select("id", "component").as[(Long, Long)].collect().toMap
    if (labelsOf(labels) != refLabels)
      failures += "connectedComponents labels differ from union-find"
    // an independent algorithm over the same edges must agree
    if (labelsOf(Dedup.connectedComponentsStar(nodes, edges)) != refLabels)
      failures += "connectedComponentsStar labels differ from union-find"
    failures.toSeq
  }
}

object DedupRun {
  def outputs(edges: Long, components: Long): String =
    s"edges=$edges components=$components"
}
