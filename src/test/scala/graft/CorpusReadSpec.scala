package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, DateType, IntegerType, StringType}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Corpus

/** Contract tests for the memoized parquet reader ([[Corpus.read]]): a
  * repeat read of unchanged files runs no inference job, anything that
  * can change the inferred schema (a rewrite, an inference conf)
  * re-infers, and the memoized read returns exactly what a plain
  * `spark.read.parquet` returns — rows, types and errors. */
class CorpusReadSpec extends AnyFunSuite {
  import SparkTestSession._

  /** Runs `f` on a not-yet-existing path under a fresh temp dir, then
    * removes the dir. */
  private def withPath(tag: String)(f: String => Unit): Unit = {
    val dir = Files.createTempDirectory(s"graft_corpus_read_$tag")
    try f(dir.resolve("t").toString)
    finally graft.operators.IndexFs.deleteTree(dir.toString)
  }

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  test("a second read of an unchanged path submits no Spark job") {
    withPath("repeat") { p =>
      spark.range(100).selectExpr("id", "cast(id as string) as s").write.parquet(p)
      assert(jobsDuring(Corpus.read(spark, p)) >= 1, "first read infers")
      assert(jobsDuring(Corpus.read(spark, p)) === 0)
      assert(Corpus.read(spark, p).agg(sum("id")).collect()(0).getLong(0) === 4950L)
    }
  }

  test("a rewrite with an added column is read with the new column") {
    withPath("evolve") { p =>
      spark.range(10).selectExpr("id").write.parquet(p)
      assert(Corpus.read(spark, p).columns.toSeq === Seq("id"))
      spark.range(10).selectExpr("id", "id * 2 as x").write.mode("overwrite").parquet(p)
      val df = Corpus.read(spark, p)
      assert(df.columns.toSeq === Seq("id", "x"))
      assert(df.agg(sum("x")).collect()(0).getLong(0) === 90L)
    }
  }

  test("flipping spark.sql.parquet.binaryAsString re-infers") {
    // Spark-written files carry their Spark schema in the footer, which
    // inference prefers over the conf — so write a bare parquet file
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    withPath("binary") { p =>
      val schema = MessageTypeParser.parseMessageType("message m { required binary b; }")
      val w = ExampleParquetWriter
        .builder(new org.apache.hadoop.fs.Path(s"$p/part-0.parquet"))
        .withType(schema).build()
      try Seq("x", "y").foreach(v =>
        w.write(new SimpleGroupFactory(schema).newGroup().append("b", v)))
      finally w.close()
      val key = "spark.sql.parquet.binaryAsString"
      SparkTestSession.withConf(key -> "false") {
        assert(Corpus.read(spark, p).schema("b").dataType === BinaryType)
        spark.conf.set(key, "true")
        val df = Corpus.read(spark, p)
        assert(df.schema("b").dataType === StringType)
        assert(df.orderBy("b").collect().map(_.getString(0)).toSeq === Seq("x", "y"))
        spark.conf.set(key, "false")
        assert(Corpus.read(spark, p).schema("b").dataType === BinaryType)
      }
    }
  }

  test("a partitioned directory keeps its partition-column types") {
    withPath("parts") { p =>
      spark.range(16)
        .selectExpr("id", "cast(id % 4 as int) as bucket",
          "date_add(date'2024-01-01', cast(id % 2 as int)) as day")
        .write.partitionBy("bucket", "day").parquet(p)
      Corpus.read(spark, p)
      var memo: DataFrame = null
      assert(jobsDuring { memo = Corpus.read(spark, p) } === 0)
      val plain = spark.read.parquet(p)
      assert(memo.schema === plain.schema)
      assert(memo.schema("bucket").dataType === IntegerType)
      assert(memo.schema("day").dataType === DateType)
      assert(sameRows(memo, plain))
    }
  }

  test("a missing path or an empty directory throws as a plain read does") {
    withPath("errors") { missing =>
      val empty = s"${missing}_empty"
      Files.createDirectory(Paths.get(empty))
      Seq(missing, empty).foreach { p =>
        val plain = intercept[AnalysisException](spark.read.parquet(p))
        // twice: a failed read must leave nothing in the memo
        (1 to 2).foreach { _ =>
          val memo = intercept[AnalysisException](Corpus.read(spark, p))
          assert(memo.getCondition === plain.getCondition)
          assert(memo.getMessage === plain.getMessage)
        }
      }
    }
  }

  test("memoized and plain reads of every corpus table are equal") {
    // events carries TIMESTAMP(NANOS): read as long under nanosAsLong
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings", "events").foreach { t =>
      val path = s"$sf/$t.parquet"
      Corpus.read(spark, path)
      var memo: DataFrame = null
      assert(jobsDuring { memo = Corpus.read(spark, path) } === 0, t)
      val plain = spark.read.parquet(path)
      assert(memo.schema === plain.schema, t)
      assert(sameRows(memo, plain), t)
    }
  }

  test("events requires the nanosAsLong flag GraftSession sets and never writes it") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val child = spark.newSession()
    child.conf.set(key, "false")
    val e = intercept[IllegalArgumentException](Corpus.events(child, sf))
    assert(e.getMessage.contains("GraftSession"), e.getMessage)
    assert(child.conf.get(key) === "false")
  }

  test("source audit: no parquet read bypasses Corpus.read") {
    // a bare read re-runs the inference job on every call
    val offenders = SourceAudit.offenders("src/main/scala", Set("Corpus.scala"))(
      _.contains(".read.parquet("))
    assert(offenders.isEmpty,
      s"parquet reads outside Corpus.read:\n${offenders.mkString("\n")}")
  }
}
