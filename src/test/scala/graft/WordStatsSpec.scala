package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{ArabicCorpus, TextFunctions}
import graft.sources.TextFiles

/** A small Arabic file tree covering the flagship's edge inputs,
  * written once per JVM to a temp dir.
  */
object WordStatsCorpus {
  /** 300 Arabic letters in one run: longer than the 255-char column. */
  val LongRun: String = "كتب" * 100

  val files: Seq[(String, String)] = Seq(
    "empty.txt"                  -> "",
    "blank.txt"                  -> "  \n\t \n   ",
    "latin.txt"                  -> "Hello WORLD hello 42 abc123\n",
    // diacritic variants stay distinct words; Latin case variants are
    // not Arabic letters, so they never become tokens
    "news/variants.txt"          -> "السَّلامُ السلام السّلام Hello HELLO hello\n",
    "news/repeats.txt"           -> "كتاب كتاب كتاب قلم\nقلم كتاب\n",
    "c1/d1/p1/x/y/deep.txt"      -> "مدينة الجامعة مدينة",
    "c1/d1/long.txt"             -> s"قبل $LongRun بعد",
    "c1/d1/notes.md"             -> "ملف ليس نصا")

  lazy val dir: String = {
    val root = Files.createTempDirectory("wordstats")
    files.foreach { case (rel, text) =>
      val p: Path = root.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.write(p, text.getBytes(UTF_8))
    }
    root.toString
  }
}

class WordStatsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** The two-branch plan `ArabicCorpus.wordStats` replaced: per-file
    * counts by a groupBy, unique words by a distinct, joined back on
    * file_path. Kept as the oracle twin of the one-scan form.
    */
  private def twoBranchTwin(spark: SparkSession, dir: String): DataFrame = {
    val toks = TextFiles.wholeText(spark, "*.txt", dir)
      .select(col("file_path"), explode(TextFunctions.arabicTokens(col("content"))).as("word"))
      .select(col("file_path"), TextFunctions.normalizeWord(col("word")).as("word"))
      .filter(col("word") =!= "")
    val counts = toks.groupBy("file_path").agg(count(lit(1)).as("words_count"))
    toks.distinct()
      .join(counts, "file_path")
      .select(
        TextFunctions.truncate255(col("word")).as("word"),
        length(TextFunctions.removeDiacritics(col("word"))).as("word_len"),
        (length(col("word")) > 255).cast("int").as("word_truncated"),
        TextFunctions.basenameBackwards(col("file_path")).as("file_path"),
        col("words_count"))
      .orderBy("file_path", "word")
  }

  private lazy val got  = ArabicCorpus.wordStats(spark, WordStatsCorpus.dir)
  private lazy val rows = got.collect().toSeq

  test("one-scan wordStats equals the two-branch twin in rows, order and schema") {
    val twin = twoBranchTwin(spark, WordStatsCorpus.dir)
    assert(got.schema == twin.schema,
      s"schema moved:\n${got.schema.treeString}\nvs\n${twin.schema.treeString}")
    assert(!got.schema("words_count").nullable, "words_count must stay bigint NOT NULL")
    assert(rows == twin.collect().toSeq)
  }

  test("files without Arabic tokens and non-.txt files yield no rows") {
    val files = rows.map(_.getAs[String]("file_path")).toSet
    assert(files.size == 4, s"expected the four Arabic .txt files: $files")
    Seq("empty.txt", "blank.txt", "latin.txt", "notes.md").foreach { f =>
      assert(!files.exists(_.endsWith("/" + f)), s"$f must contribute no rows")
    }
  }

  test("words_count counts every token; words are unique per file") {
    def of(suffix: String) = rows.filter(_.getAs[String]("file_path").endsWith(suffix))
    val repeats = of("/news/repeats.txt")
    assert(repeats.map(_.getAs[String]("word")) == Seq("قلم", "كتاب"))
    assert(repeats.forall(_.getAs[Long]("words_count") == 6L))
    // three diacritic variants of one word: three distinct words, one
    // diacritic-free length
    val variants = of("/news/variants.txt")
    assert(variants.size == 3 && variants.forall(_.getAs[Long]("words_count") == 3L))
    assert(variants.map(_.getAs[Int]("word_len")).toSet == Set(6))
  }

  test("deep paths keep their last four segments; long runs truncate to 255") {
    val deep = rows.filter(_.getAs[String]("file_path").endsWith("deep.txt"))
    assert(deep.map(_.getAs[String]("file_path")).toSet == Set("p1/x/y/deep.txt"))
    assert(deep.map(_.getAs[Long]("words_count")).toSet == Set(3L))
    val long = rows.filter(_.getAs[Int]("word_truncated") == 1)
    assert(long.size == 1)
    assert(long.head.getAs[String]("word") == WordStatsCorpus.LongRun.take(255))
    assert(long.head.getAs[Int]("word_len") == 300)
    assert(rows.count(_.getAs[Int]("word_truncated") == 0) == rows.size - 1)
  }
}
