package graft

/** Scratch-bounded certification runner for the registry's two exact
  * all-pairs-flavored rows, whose one-shot shuffle scratch outgrows a
  * single host's free disk at sf100 (the registry plans are the right
  * cluster shape — this exists so a one-disk host can still produce
  * their exact results for the DuckDB oracle; see the sliced-execution
  * note in DedupOps). Writes the same <outDir>/<name> parquet layout
  * as graft.Verify, so check_oracle.py replays the row unchanged.
  *
  * Usage: VerifySliced <sfDir> <outDir> <name> [slices=8]
  *   name ∈ {dedup_shingle_cosine, dedup_allpairs, dedup_lsh_recall}
  */
object VerifySliced {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, name) = (args(0), args(1), args(2))
    val slices = if (args.length > 3) args(3).toInt else 8
    // surrendered slice scratch must actually leave the disk between
    // slices — compress what does hit it
    val spark = Sessions.local(Sessions.cpus, "spark.io.compression.codec" -> "zstd")
    val scratch = s"$outDir/_scratch_$name"
    val df = name match {
      case "dedup_shingle_cosine" =>
        ops.DedupOps.shingleCosineSliced(spark, sfDir, slices, scratch)
      case "dedup_allpairs" =>
        ops.DedupOps.allPairsSliced(spark,
          Tables.load(spark, sfDir, "documents"), 3, 5, slices, scratch)
      case "dedup_lsh_recall" =>
        ops.DedupOps.lshRecallSliced(spark, sfDir, slices, scratch)
      case other =>
        sys.error(s"VerifySliced knows no sliced plan for '$other'")
    }
    // same single-object layout as graft.Verify (repartition, not
    // coalesce, for the same stage-folding reason)
    df.repartition(1).write.mode("overwrite")
      .parquet(s"$outDir/$name")
    // the scratch partials are certification plumbing, not results
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(
      new java.io.File(scratch).getAbsolutePath), true)
    spark.stop()
  }
}
