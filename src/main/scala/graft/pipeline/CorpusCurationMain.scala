package graft.pipeline

import org.apache.spark.sql.SparkSession

/** CLI for the corpus-curation funnel: read a documents parquet, write
  * the curated corpus partitioned by split plus the funnel audit table.
  *
  *   runMain graft.pipeline.CorpusCurationMain <documentsParquet> <outDir> [lang]
  */
object CorpusCurationMain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: CorpusCurationMain <documentsParquet> <outDir> [lang]")
    val Array(in, out) = args.take(2)
    val lang = if (args.length > 2) args(2) else "en"
    val spark = graft.GraftSession.local(appName = "graft-curation")
    try graft.Caches.withScope {
      val docs = spark.read.parquet(in)
      // one pipeline run feeds BOTH outputs — the audit counts and the
      // corpus share the persisted stage frames
      val (funnel, curated) = CorpusCuration.funnelWithCorpus(docs, "doc_id", "text", lang)
      // split-partitioned layout: train/val/test land in their own
      // directories, readable independently (partition pruning)
      curated.write.mode("overwrite").partitionBy("split").parquet(s"$out/corpus")
      funnel.coalesce(1).write.mode("overwrite").parquet(s"$out/funnel")
      spark.read.parquet(s"$out/funnel").orderBy("stage").show(20, truncate = false)
    } finally spark.stop()
  }
}
