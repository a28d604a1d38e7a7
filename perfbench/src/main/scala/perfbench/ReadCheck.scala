package perfbench

import graft.io.JsonArraySource

import java.nio.file.{Files, Paths}

/** Self-test of the read-amplification measure, on a small primary:
  * the primary bytes the tasks of one operation read, over the file's
  * size, for
  *
  *  - the deployed read: `JsonArraySource` without a schema (one
  *    inference pass) and two actions over it, which must give 3.0;
  *  - a parse-once read: the primary with its schema given, cached, and
  *    three actions over the cache, which must give 1.0.
  *
  * Writes both to `<out>/result.json`.
  *
  *   perfbench.ReadCheck --primary FILE --out DIR
  */
object ReadCheck {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val out = Paths.get(opt("out"))
    Files.createDirectories(out)
    val primary = opt("primary")
    val size = Files.size(Paths.get(primary)).toDouble
    val spark = Main.session("2")
    val schema = JsonArraySource(primary).load(spark).schema
    val tracer = new Tracer(spark)
    def amplification(body: => Unit): Double = {
      val (_, s) = tracer.span("check")(body)
      tracer.drain()
      tracer.bytesReadFrom(s, Etl.PrimaryFile) / size
    }
    val deployed = amplification {
      val p = JsonArraySource(primary).load(spark)
      Main.noop(p)
      p.select(Etl.Key).distinct().count()
    }
    val cached = amplification {
      val p = JsonArraySource(primary, Some(schema)).load(spark).cache()
      Main.noop(p)
      p.count()
      p.select(Etl.Key).distinct().count()
      p.unpersist()
    }
    tracer.detach()
    Json.write(out.resolve("result.json"), Json.obj("deployed" -> deployed, "cached" -> cached))
    spark.stop()
  }
}
