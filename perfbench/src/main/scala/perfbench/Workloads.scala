package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.operators.{ArabicCorpus, Curate, Decontaminate, Dedup, Layout, QualityRules}
import graft.sinks.Sinks
import graft.sources.{Tables, TextFiles}

/** One timed call: a query or a whole pipeline job. */
final case class Sample(label: String, seconds: Double, error: Option[String])

/** A workload runs units (one pipeline job, or one round of queries) through
  * graft's public API, and names the probes a traced run materializes alone.
  */
trait Workload {
  /** Run one unit whose outputs go under `tag`; one sample per timed call. */
  def unit(tag: String, round: Int, tr: Tracer): Seq[Sample]
  /** Metric name → the DataFrames of a source or operator call, each
    * materialized alone through the noop sink (traced runs only). */
  def probes: Seq[(String, () => Seq[DataFrame])]
  /** Output-probe metric names whose noop time is subtracted from the sink spans. */
  def outputProbes: Seq[String]
  /** Files in the input. */
  def inputFiles: Long
  /** Output files written by unit `tag`. */
  def outputFiles(tag: String): Long
  /** Output name → DuckDB twin SQL, for the checker. */
  def oracle: Map[String, String]
  /** The untimed warm-up before the first timed unit: two units. */
  def warmUp(tr: Tracer): Seq[Sample] = unit("warm0", -1, tr) ++ unit("warm1", -2, tr)
}

object Workload {
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def timed(label: String)(body: => Unit): Sample = {
    val t0 = System.nanoTime()
    val err = try { body; None } catch { case e: Exception => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(400)) }
    Sample(label, (System.nanoTime() - t0) / 1e9, err)
  }

  def countFiles(dir: File): Long =
    Option(dir.listFiles()).toSeq.flatten.map { f =>
      if (f.isDirectory) countFiles(f)
      else if (f.getName.startsWith("part-")) 1L else 0L
    }.sum
}

/** The paper's own job: Arabic word stats over a file tree, written as CSV. */
final class FlagshipWordStats(spark: SparkSession, dir: String, out: String, cores: Int)
    extends Workload {
  import Workload._

  def unit(tag: String, round: Int, tr: Tracer): Seq[Sample] = Seq(timed(tag) {
    tr.span("job") {
      val df = tr.span("operators.wordstats") { ArabicCorpus.wordStats(spark, dir) }
      tr.span("sinks.csv") { Sinks.loadBalanced(df, cores)(Sinks.csv(_, s"$out/$tag/wordstats")) }
    }
  })

  def probes: Seq[(String, () => Seq[DataFrame])] = Seq(
    "sources.scan_s" -> (() => Seq(TextFiles.wholeText(spark, "*.txt", dir))),
    "operators.wordstats_s" -> (() => Seq(ArabicCorpus.wordStats(spark, dir))))
  def outputProbes: Seq[String] = Seq("operators.wordstats_s")
  def inputFiles: Long = TextFiles.wholeText(spark, "*.txt", dir).inputFiles.length.toLong
  def outputFiles(tag: String): Long = countFiles(new File(s"$out/$tag"))
  def oracle: Map[String, String] = Map.empty
}

/** The LLM-data job: five curation outputs written as parquet. */
final class CuratePipeline(spark: SparkSession, dir: String, out: String, cores: Int)
    extends Workload {
  import Workload._
  private def t = Tables(spark, dir)

  private val stages: Seq[(String, () => DataFrame)] = Seq(
    "gopher" -> (() => QualityRules.gopherRulesOf(t.documents)),
    "c4" -> (() => QualityRules.c4RulesOf(t.documents)),
    "curate" -> (() => Curate.curate(t)),
    "decontam" -> (() => Decontaminate.contaminationQuery(t)),
    "pack" -> (() => Layout.packSequences(t)))

  def unit(tag: String, round: Int, tr: Tracer): Seq[Sample] = Seq(timed(tag) {
    tr.span("job") {
      stages.foreach { case (name, build) =>
        tr.span(s"stage.$name") {
          val df = tr.span(s"operators.$name") { build() }
          tr.span(s"sinks.$name") {
            Sinks.loadBalanced(df, cores)(_.write.mode("overwrite").parquet(s"$out/$tag/$name"))
          }
        }
      }
    }
  })

  def probes: Seq[(String, () => Seq[DataFrame])] = Seq(
    "sources.scan_s" -> (() => Seq(t.documents)),
    "operators.annotate_s" -> (() => Seq(Curate.annotatedOf(t.documents))),
    "operators.minhash_lsh_s" -> (() => Seq(Dedup.minhashLshPairs(t))),
    "operators.window_hashes_s" -> (() => Seq(Dedup.windowHashesOf(t.documents, 10))),
    "operators.tok_stats_s" -> (() => Seq(Curate.tokStatsOf(t.documents)))) ++
    stages.map { case (name, build) => s"out.$name" -> (() => Seq(build())) }
  def outputProbes: Seq[String] = stages.map(s => s"out.${s._1}")
  def inputFiles: Long = t.documents.inputFiles.length.toLong
  def outputFiles(tag: String): Long = countFiles(new File(s"$out/$tag"))
  def oracle: Map[String, String] = Map(
    "gopher" -> QualityRules.gopherRulesSql(),
    "c4" -> QualityRules.c4RulesSql(),
    "curate" -> Curate.curateSql(),
    "decontam" -> Decontaminate.contaminationSql(),
    "pack" -> Layout.packSequencesSql())
}

/** Interactive analytics: a fixed list of hash-gated queries, each round in a
  * seed-shuffled order, each through the noop sink.
  */
final class AnalyticsMix(spark: SparkSession, dir: String, out: String, queries: Seq[String],
    seed: Long) extends Workload {
  import Workload._
  queries.foreach(q => require(SparkEntry.queries.contains(q), s"unknown query $q"))

  def unit(tag: String, round: Int, tr: Tracer): Seq[Sample] = {
    val order = new scala.util.Random(seed * 1000003L + round).shuffle(queries)
    tr.span("round") {
      order.map { q =>
        timed(q) {
          tr.span(s"query.$q") {
            val df = tr.span("operators.build") { SparkEntry.queries(q)(spark, dir) }
            tr.span("sinks.noop") { noop(df) }
          }
        }
      }
    }
  }

  def probes: Seq[(String, () => Seq[DataFrame])] = Seq("sources.scan_s" -> (() => {
    val tb = Tables(spark, dir)
    Seq(tb.region, tb.nation, tb.customer, tb.supplier, tb.part, tb.orders, tb.lineitem, tb.events)
  }))
  def outputProbes: Seq[String] = Seq.empty
  def inputFiles: Long = 8L
  def outputFiles(tag: String): Long = 0L
  def oracle: Map[String, String] = queries.map(q => q -> SparkEntry.oracleSql(q)).toMap
  /** A cold round that writes each query's result as parquet for the
    * checker (the same query code on the same input as the timed rounds),
    * then two noop rounds. */
  override def warmUp(tr: Tracer): Seq[Sample] = queries.map { q =>
    timed(q) { SparkEntry.queries(q)(spark, dir).write.mode("overwrite").parquet(s"$out/check/$q") }
  } ++ unit("warm0", -1, tr) ++ unit("warm1", -2, tr)
}
