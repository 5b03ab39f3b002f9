package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.RetailRocket

class RrPipelineSpec extends AnyFunSuite {

  test("the traced stage split writes what RetailRocket.run writes, row for row") {
    val dir = Files.createTempDirectory(Files.createDirectories(Paths.get("target")), "rr-staged")
    val spark = SparkSession.builder().master("local[2]").appName("RrPipelineSpec")
      .config("spark.ui.enabled", "false").config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", "2")
      .getOrCreate()
    try {
      val ev = dir.resolve("events_csv").toString
      val pr = dir.resolve("props_csv").toString
      RrData.write(spark, RrData.Scale(8000), 3, ev, pr)
      val whole = RetailRocket.run(spark, ev, Seq(pr), dir.resolve("run").toString)
      val stages = Seq.newBuilder[String]
      val split = RrPipeline.staged(spark, ev, pr, dir.resolve("staged").toString) { (st, f) =>
        stages += st; f()
      }
      assert(stages.result() == RrPipeline.Stages)
      assert(split == whole)
      assert(whole("train_rows") > 0 && whole("valid_rows") > 0)
      for (m <- Seq("X_train_spark.parquet", "X_valid_spark.parquet")) {
        val a = spark.read.parquet(dir.resolve(s"run/$m").toString)
        val b = spark.read.parquet(dir.resolve(s"staged/$m").toString)
        assert(a.schema == b.schema)
        assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty, m)
      }
    } finally {
      spark.stop()
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }
}
