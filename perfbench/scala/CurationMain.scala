package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.functions.{Bpe, TextFunctions}
import graft.operators.MinHashDedup

/** The curation workload's program side: full curation passes over one
  * corpus, calling only the library's public functions, one pass per
  * command read from standard input.
  *
  *   CurationMain <corpus.parquet> <staged 0|1> <merges> <budget> <shard width>
  *
  * One pass = drop-reason filter (md5 exact-dup keep-first, too short,
  * `TextFunctions.qualityScore`) → `MinHashDedup.fuzzyDedup(0.8)` →
  * `Bpe.train` + `Bpe.encode` → `TextFunctions.packDocuments` → parquet.
  * The main prints `READY` once the session is up; then each input line
  * names an output directory, and the main runs one pass into it and prints
  * `OP {json}` (the stage spans and row counts, when staged). It stops at
  * end of input. The client decides how many passes warm up and which are
  * timed.
  * Staged (the traced run and the untraced run it is compared with), every
  * stage is materialized on its own, so each gets its own span and row count.
  */
object CurationMain {
  def main(args: Array[String]): Unit = {
    val Array(corpus, stagedArg, merges, budget, shardWidth) = args
    val staged = stagedArg == "1"
    val cpus = Runtime.getRuntime.availableProcessors()
    // the session graft.Bench uses
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench-curation")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      println("READY")
      val in = new java.io.BufferedReader(new java.io.InputStreamReader(System.in))
      Iterator.continually(in.readLine()).takeWhile(_ != null).filter(_.nonEmpty).foreach { out =>
        val stages = pass(spark, corpus, out, staged, merges.toInt, budget.toLong,
          shardWidth.toLong)
        println("OP {" + stages.map { case (k, v) => s""""$k":$v""" }.mkString(",") + "}")
      }
      // let Spark's context cleaner drop the dead passes' broadcasts and
      // shuffles while it still runs (a collection queues them for it), so
      // the heap HeapListener reads at the end holds only what is retained
      System.gc()
      Thread.sleep(1000)
    } finally spark.stop()
  }

  /** One curation pass; returns the stage spans and row counts (empty
    * when not staged). Survivors are persisted in both modes: BPE
    * training and packing both read them. */
  def pass(spark: SparkSession, corpus: String, out: String, staged: Boolean,
      merges: Int, budget: Long, shardWidth: Long): Seq[(String, Long)] = {
    val spans = Seq.newBuilder[(String, Long)]
    def timed[T](name: String)(body: => T): T =
      if (!staged) body
      else {
        val t0 = System.nanoTime()
        val r = body
        spans += s"stage_ms_$name" -> (System.nanoTime() - t0) / 1000000L
        r
      }
    def materialize(name: String, df: DataFrame): DataFrame =
      if (!staged) df
      else {
        val kept = df.persist(StorageLevel.MEMORY_AND_DISK)
        spans += s"stage_rows_$name" -> kept.count()
        kept
      }
    val docs = spark.read.parquet(corpus).select(col("doc_id"), col("text"), col("n_chars"))
    val kept = timed("filter") {
      val byText = Window.partitionBy(md5(col("text")))
      val reason = when(col("doc_id") =!= min(col("doc_id")).over(byText), lit("exact_dup"))
        .when(col("n_chars") < 50, lit("too_short"))
        .when(TextFunctions.qualityScore(col("text")) < 0.5, lit("low_quality"))
        .otherwise(lit("kept"))
      materialize("filter", docs.withColumn("reason", reason)
        .filter(col("reason") === "kept").select(col("doc_id"), col("text")))
    }
    val survivors = timed("fuzzy") {
      val canonical = MinHashDedup.fuzzyDedup(kept, "doc_id", "text", threshold = 0.8)
        .filter(col("keep")).select(col("doc_id"))
      val s = kept.join(canonical, "doc_id").persist(StorageLevel.MEMORY_AND_DISK)
      if (staged) spans += "stage_rows_fuzzy" -> s.count()
      s
    }
    val tokenized = timed("bpe") {
      val table = Bpe.train(survivors, "text", numMerges = merges)
      materialize("bpe", survivors.withColumn("tokens", Bpe.encode(col("text"), table)))
    }
    timed("pack") {
      TextFunctions.packDocuments(tokenized, "doc_id", "text", budget = budget,
          autoShardWidth = shardWidth)
        .write.mode("overwrite").parquet(out)
    }
    spark.catalog.clearCache()
    spans.result()
  }
}
