package graft

import graft.api.Graft
import graft.functions.TextFunctions
import graft.operators.PipelineOps
import org.apache.spark.sql.functions._

/** End-to-end training-data pipeline — the engine as a product, one
  * command from raw corpus to training shards:
  *
  *   raw documents
  *     → quality filter        (length/diversity/stopword blend)
  *     → exact + near dedup    (fingerprint groups, MinHash banding,
  *                              connected components — one facade call)
  *     → decontamination       (3-gram overlap vs the benchmark source)
  *     → deterministic split   (content-hash buckets → train/valid/test)
  *     → chunking              (fixed token windows per doc)
  *     → hive-partitioned parquet shards by split
  *
  * Every stage is the same operator the declared queries exercise;
  * the whole flow is lazy until the final writes. Prints one JSON
  * stats line (counts per stage) for pipeline monitoring.
  *
  * Usage: runMain graft.PipelineMain <sfDir> <outDir>
  */
object PipelineMain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = if (args.length > 1) args(1) else "target/pipeline-out"
    val spark = GraftSession.builder(math.max(GraftSession.cpus / 2, 4)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val t = Tables(spark, sfDir)
    val raw = t.documents
    val total = raw.count()

    // 1. quality filter: keep documents above a light quality bar
    // (the same blend q25 oracle-checks — one definition)
    val quality = raw.filter(TextFunctions.qualityScore($"text") >= 0.3)
    val nQuality = quality.count()

    // 2. exact + near-dup dedup (keep one doc per duplicate cluster)
    val deduped = Graft.dedupCorpus(quality, $"doc_id", $"text")
    val nDeduped = deduped.count()

    // 3. decontamination: the benchmark source itself is HELD OUT of
    // the training corpus entirely (training on the eval suite is the
    // leak this stage exists to prevent), and remaining docs that
    // overlap it beyond the threshold are dropped too
    val bench = raw.filter($"source" === "src0")
    val corpus = deduped.filter($"source" =!= "src0")
    val contam = PipelineOps.contaminationOver(
      corpus, $"doc_id", $"text", bench, $"text", k = 3)
    val dirty = contam.filter($"contamination" > 0.5).select($"doc_id")
    // localCheckpoint: `clean` feeds the count, the split, and the
    // chunker — materialize the decontamination join once
    val clean = corpus.join(dirty, Seq("doc_id"), "left_anti")
      .localCheckpoint(true)
    val nClean = clean.count()

    // 4. deterministic content-keyed split
    val split = PipelineOps.hashSplitOver(clean, $"doc_id", $"text", 80, 10)
      .select($"doc_id", $"split")

    // 5. chunk to fixed token windows, carry the split assignment;
    // materialized once for the write + both stats passes
    val chunks = PipelineOps.chunkOver(clean, $"doc_id", $"text", chunkTokens = 64)
      .join(split, "doc_id")
      .localCheckpoint(true)
    val nChunks = chunks.count()

    // 6. training shards, partitioned by split for per-split scans
    chunks.write.mode("overwrite").partitionBy("split")
      .parquet(s"$outDir/chunks")

    val perSplit = chunks.groupBy($"split").count().collect()
      .map(r => s""""${r.getString(0)}":${r.getLong(1)}""").sorted.mkString(",")
    println(s"""{"total":$total,"quality":$nQuality,"deduped":$nDeduped,""" +
      s""""clean":$nClean,"chunks":$nChunks,"splits":{$perSplit},"out":"$outDir"}""")
    spark.stop()
  }
}
