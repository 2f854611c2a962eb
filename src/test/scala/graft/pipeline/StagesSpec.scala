package graft.pipeline

import graft.{Main, SparkSpec}

import java.nio.file.{Files, Paths}

/** Plan rules the corpus-pipeline derives from its stage table. */
class StagesSpec extends SparkSpec {

  private def docs(base: String): String = {
    val s = spark
    import s.implicits._
    Seq((1L, "en", "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "en", "one two three four five six seven eight nine"))
      .toDF("doc_id", "lang", "text").write.parquet(s"$base/in.parquet")
    s"$base/in.parquet"
  }

  test("an unknown step refuses and names the known steps") {
    val base = Files.createTempDirectory("graft_stages_unknown").toString
    val e = intercept[IllegalArgumentException](Main.runPipeline(spark,
      Seq("corpus-pipeline", s"in=${docs(base)}", s"out=$base/out", "steps=clean,dedupe")))
    assert(e.getMessage.contains("unknown pipeline step 'dedupe' (known: " +
      "clean,decontaminate,langid,scrub,select,mix,shard,pack,index)"), e.getMessage)
    assert(!Files.exists(Paths.get(s"$base/out")), "a refused plan must do no work")
  }

  test("an incremental run without steps= runs exactly clean, decontaminate, shard") {
    val base = Files.createTempDirectory("graft_stages_incr").toString
    Main.runPipeline(spark, Seq("corpus-pipeline", s"in=${docs(base)}", s"out=$base/out",
      "incremental=true", s"state=$base/state", "batch=1"))
    val stats = Files.readString(Paths.get(s"$base/out/stats.json"))
    val stages = """"stage":"([a-z]+)"""".r.findAllMatchIn(stats).map(_.group(1)).toSeq
    assert(stages == Seq("input", "clean", "decontaminate", "shard", "survivors"), stats)
  }

  test("index before a frame-mutating stage refuses; several violations name the latest side effect") {
    val base = Files.createTempDirectory("graft_stages_order").toString
    val in = docs(base)
    for ((plan, pair) <- Seq(
        "index,scrub" -> "'index' BEFORE 'scrub'",
        "clean,index,mix" -> "'index' BEFORE 'mix'",
        "shard,pack,index,clean" -> "'index' BEFORE 'clean'")) {
      val e = intercept[IllegalArgumentException](Main.runPipeline(spark,
        Seq("corpus-pipeline", s"in=$in", s"out=$base/out", s"steps=$plan")))
      assert(e.getMessage.contains(pair), s"$plan: ${e.getMessage}")
    }
  }
}
