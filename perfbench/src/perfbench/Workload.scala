package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** What one rep produced: wall time, work units done (URLs fetched or
  * documents clustered), the outputs the correctness gate compares, and —
  * in a traced rep — its per-layer values. */
final case class Rep(wallS: Double, units: Long, outputs: String,
    layers: Map[String, Double] = Map.empty)

/** Per-run context handed to a workload. */
final case class Ctx(spark: SparkSession, seed: Long, nproc: Int,
    workDir: Path, spans: Spans)

/** Tracing handles for a traced rep: the Spark listener and the span the
  * rep's own spans hang off. */
final case class Tracing(listener: LayerListener, spans: Spans, parent: Int)

/** A workload's inputs, built for one seed inside a live session. */
trait Prepared {
  /** One closed-loop rep; its wall time covers only the library calls. */
  def rep(tracing: Option[Tracing]): Rep
  /** The outputs every rep must reproduce, from the workload's reference
    * implementation (see [[Pinned]] for what that does not cover). */
  def expected(): String
  /** One-off checks on the last rep's full outputs, run after the timed
    * reps; returns the failures. May measure the summary extras. */
  def finalChecks(): Seq[String]
  /** Measured extras for the summary line: (name, value, unit). */
  def extras: Seq[(String, Double, String)] = Seq.empty
  /** Layer replays for the traced run, on this run's own data. */
  def replay(tracing: Tracing): Map[String, Double] = Map.empty
  /** Drops the previous rep's cached state (not its timing). */
  def release(): Unit = {
    val spark = SparkSession.active
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
  }
}

trait Workload {
  def name: String
  /** Sizes and settings, recorded beside the metrics. */
  def settings: Seq[(String, String)]
  def prepare(ctx: Ctx): Prepared
}

/** Outputs recorded per (workload, seed) from the library as it stood when
  * the benchmark was defined: perfbench/pinned.tsv, written by
  * perfbench/pin.py. The references share row-level code with the library
  * (the crawl walk fetches, parses and cleans URLs with it), so a change
  * there could move a reference and the engine together; the pinned values
  * do not move. */
object Pinned {
  def read(path: Path): Map[(String, Long), String] =
    Files.readAllLines(path).asScala.toSeq
      .filterNot(l => l.isEmpty || l.startsWith("#")).map { l =>
        val Array(workload, seed, outputs) = l.split("\t", 3)
        (workload, seed.toLong) -> outputs
      }.toMap
}
