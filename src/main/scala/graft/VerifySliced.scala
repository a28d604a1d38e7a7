package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Scratch-bounded certification runner for the registry's three exact
  * pair rows, whose one-shot shuffle scratch outgrows a single host's
  * free disk at sf100. There is one body per row and two ways to run
  * it: the registry runs the pair-generating self-join in the row's
  * plan (the right cluster shape), and this runs the SAME body with
  * that join sliced through a scratch path (see the pair-row note in
  * DedupOps), so a one-disk host can still produce the row's exact
  * result for the DuckDB oracle. Writes the same <outDir>/<name>
  * parquet layout as graft.Verify, so check_oracle.py replays the row
  * unchanged.
  *
  * Usage: VerifySliced <sfDir> <outDir> <name> [slices=8]
  *   name ∈ {dedup_shingle_cosine, dedup_allpairs, dedup_lsh_recall}
  */
object VerifySliced {
  import ops.DedupOps

  /** Row `name`'s registry body over `sfDir` with its self-join run
    * by `pairs`.
    */
  private[graft] def row(
      spark: SparkSession, sfDir: String, name: String, pairs: DedupOps.PairJoin): DataFrame =
    name match {
      case "dedup_shingle_cosine" =>
        DedupOps.shingleCosineOver(DedupOps.docsAug(spark, sfDir), pairs)
      case "dedup_allpairs" =>
        DedupOps.allPairsOver(Tables.load(spark, sfDir, "documents"), 3, 5, pairs)
      case "dedup_lsh_recall" =>
        DedupOps.lshRecallOver(DedupOps.docsAug(spark, sfDir), pairs)
      case other =>
        sys.error(s"VerifySliced knows no sliced plan for '$other'")
    }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, name) = (args(0), args(1), args(2))
    val slices = if (args.length > 3) args(3).toInt else 8
    // surrendered slice scratch must actually leave the disk between
    // slices — compress what does hit it
    val spark = Sessions.local(Sessions.cpus, "spark.io.compression.codec" -> "zstd")
    val scratch = s"$outDir/_scratch_$name"
    try {
      // same single-object layout as graft.Verify (repartition, not
      // coalesce, for the same stage-folding reason)
      row(spark, sfDir, name, DedupOps.Sliced(slices, scratch))
        .repartition(1).write.mode("overwrite").parquet(s"$outDir/$name")
    } finally {
      // the scratch partials are certification plumbing, not results,
      // and bounding disk is what slicing is for: they go on failure too
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(
        new java.io.File(scratch).getAbsolutePath), true)
      spark.stop()
    }
  }
}
