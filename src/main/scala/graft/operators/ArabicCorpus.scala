package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.TextFiles

/** The reference's own use case end-to-end: Arabic word statistics
  * over its sample corpus (/root/reference/sample_data — read-only
  * input). Mirrors v2/main.py's flagship pipeline with the Arabic
  * tokenizer (v2/arabic_transformers.py:6) on real Arabic text.
  */
object ArabicCorpus {

  val SampleDir = "/root/reference/sample_data"

  /** Per-word frequency of diacritics-stripped Arabic tokens across
    * the corpus — deterministic top-k.
    */
  def tokenCounts(spark: SparkSession, dir: String = SampleDir, k: Int = 100): DataFrame =
    TextFiles.wholeText(spark, "*.txt", dir)
      .select(explode(TextFunctions.arabicTokens(col("content"))).as("word"))
      .select(TextFunctions.removeDiacritics(col("word")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word")
      .agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("word"))
      .limit(k)

  /** DuckDB twin of [[tokenCounts]] via read_text over the same files.
    * The letter-run class [0621-063a 0640-0652] equals the reference's
    * enumerated Arabic class; diacritics U+064B..U+0652 strip as one
    * contiguous range.
    */
  val tokenCountsSql: String =
    s"""SELECT w AS word, count(*) AS freq FROM (
       |  SELECT regexp_replace(
       |    unnest(regexp_extract_all(content, '[\\x{0621}-\\x{063a}\\x{0640}-\\x{0652}]+')),
       |    '[\\x{064b}-\\x{0652}]', '', 'g') AS w
       |  FROM read_text('$SampleDir/**/*.txt')) t
       |WHERE w <> ''
       |GROUP BY w ORDER BY freq DESC, word LIMIT 100""".stripMargin

  /** Full flagship output over the file corpus: per-file word rows
    * (word, word_len, word_truncated, file_path, words_count) — the
    * reference's values_to_load_path row (v2/main.py:290-294).
    *
    * [[TextFiles.wholeText]] yields exactly one row per file, so both
    * per-file aggregates are functions of that row, as in the
    * reference's one-item transformer chain (v2/main.py:93-204):
    * `words_count` is the size of the file's token array
    * (ReduceItemTransformer) and the unique words are its
    * `array_distinct` (UniqueFilterTransformer). Neither needs a
    * groupBy, a distinct or a join, so the file tree is scanned and
    * tokenized once and no aggregate shuffles; the only exchange left
    * is the final sort's.
    */
  def wordStats(spark: SparkSession, dir: String = SampleDir): DataFrame = {
    val toks = filter(
      transform(TextFunctions.arabicTokens(col("content")), TextFunctions.normalizeWord(_)),
      _ =!= "")
    TextFiles.wholeText(spark, "*.txt", dir)
      .select(col("file_path"), toks.as("toks"))
      // both aggregates are taken before the explode: a column computed
      // next to a generator is evaluated above it, once per output row
      .select(
        col("file_path"),
        // a read file's token array is never NULL; the coalesce only keeps
        // the column NOT NULL, like the bigint count it replaces
        coalesce(size(col("toks")).cast("long"), lit(0L)).as("words_count"),
        array_distinct(col("toks")).as("words"))
      // explode_outer + a NULL filter, not explode: for a plain explode
      // Catalyst infers a `size(words) > 0` filter and pushes it below
      // these projections, which runs the whole tokenizer a second time
      .select(col("file_path"), col("words_count"), explode_outer(col("words")).as("word"))
      .filter(col("word").isNotNull)
      .select(
        TextFunctions.truncate255(col("word")).as("word"),
        length(TextFunctions.removeDiacritics(col("word"))).as("word_len"),
        (length(col("word")) > 255).cast("int").as("word_truncated"),
        // basename_backwards_x4 ∘ truncate_str_270, as v2/main.py:205
        TextFunctions.basenameBackwards(col("file_path")).as("file_path"),
        col("words_count"))
      .orderBy("file_path", "word")
  }
}
