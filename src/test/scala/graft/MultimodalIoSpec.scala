package graft

import graft.multimodal.Multimodal
import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Multimodal plumbing + IO round-trip tests (reference fuzz targets
  * `python/cudf/cudf/_fuzz_testing/{csv,json,orc,parquet}.py`).
  */
class MultimodalIoSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val media = Multimodal.toMediaFrame(
    Tables.documents(spark, sf).withColumn("payload", encode(col("text"), "UTF-8")),
    "doc_id", "payload", "source", "text/plain")

  test("media frame carries schema'd binary payload + metadata") {
    // nullability is derived from the source plan; names/types must match
    assert(media.schema.map(f => (f.name, f.dataType)) ==
      Multimodal.mediaSchema.map(f => (f.name, f.dataType)))
    val r = media.orderBy(col("media_id")).head()
    assert(r.getAs[Array[Byte]]("payload").nonEmpty)
    assert(r.getAs[org.apache.spark.sql.Row]("meta").getAs[Long]("n_bytes") > 0)
  }

  test("feature extraction runs partition-parallel with stable results") {
    val f1 = Multimodal.extractFeatures(media).orderBy(col("media_id")).collect()
    val f2 = Multimodal
      .extractFeatures(media.repartition(7))
      .orderBy(col("media_id"))
      .collect()
    assert(f1.map(_.toSeq).sameElements(f2.map(_.toSeq)))
    assert(f1.forall(_.getAs[Double]("mean_intensity") > 0))
  }

  test("resize stub caps payload size; frame sampling emits digests") {
    val resized = Multimodal.resizeStub(media, 100)
    assert(resized.agg(max(octet_length(col("payload")))).head().getInt(0) <= 100)
    val frames = Multimodal.frameSample(media, 32, 2)
    assert(frames.count() > 0)
    assert(frames.select(countDistinct(col("frame_digest"))).head().getLong(0) > 1)
  }

  test("parquet/orc/json/csv round-trips preserve data") {
    val dir = Files.createTempDirectory("graft-io").toString
    val src = Tables
      .customer(spark, sf)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("c_mktsegment"))

    src.write.mode("overwrite").parquet(s"$dir/p")
    assert(spark.read.parquet(s"$dir/p").exceptAll(src).isEmpty)

    src.write.mode("overwrite").orc(s"$dir/o")
    assert(spark.read.orc(s"$dir/o").exceptAll(src).isEmpty)

    src.write.mode("overwrite").json(s"$dir/j")
    val j = spark.read
      .schema(src.schema)
      .json(s"$dir/j")
    assert(j.exceptAll(src).isEmpty)

    src.write.mode("overwrite").option("header", "true").csv(s"$dir/c")
    val c = spark.read.schema(src.schema).option("header", "true").csv(s"$dir/c")
    assert(c.exceptAll(src).isEmpty)
  }

  test("compressed parquet codecs round-trip") {
    val dir = Files.createTempDirectory("graft-codec").toString
    val src = Tables.nation(spark, sf)
    Seq("snappy", "gzip", "zstd").foreach { codec =>
      src.write.mode("overwrite").option("compression", codec).parquet(s"$dir/$codec")
      assert(spark.read.parquet(s"$dir/$codec").exceptAll(src).isEmpty, codec)
    }
  }

  test("csv reader options: delimiter, na values, header, compression") {
    val dir = Files.createTempDirectory("graft-csvopt").toString
    val src = Tables.nation(spark, sf)
    src.write.mode("overwrite")
      .option("header", "true").option("sep", "|").option("compression", "gzip")
      .csv(s"$dir/c")
    val back = spark.read
      .schema(src.schema)
      .option("header", "true").option("sep", "|")
      .csv(s"$dir/c")
    assert(back.exceptAll(src).isEmpty)

    // na_values equivalent: nullValue option round-trips nulls
    val withNulls = src.withColumn("n_name",
      when(col("n_nationkey") % 2 === 0, lit("NA")).otherwise(col("n_name")))
    withNulls.write.mode("overwrite").option("header", "true").csv(s"$dir/n")
    val parsed = spark.read.schema(src.schema)
      .option("header", "true").option("nullValue", "NA").csv(s"$dir/n")
    assert(parsed.filter(col("n_name").isNull).count() ==
      withNulls.filter(col("n_name") === "NA").count())
  }

  test("json reader handles nested objects with schema inference") {
    val dir = Files.createTempDirectory("graft-jnest").toString
    Tables.documents(spark, sf)
      .select(col("doc_id"),
        struct(col("lang"), struct(col("source"), col("n_chars")).as("inner"))
          .as("meta"))
      .write.mode("overwrite").json(s"$dir/j")
    val back = spark.read.json(s"$dir/j") // schema inferred
    assert(back.select(col("meta.inner.n_chars")).count() ==
      Tables.documents(spark, sf).count())
    assert(back.schema("meta").dataType.isInstanceOf[org.apache.spark.sql.types.StructType])
  }

  test("text source reads raw lines") {
    val dir = Files.createTempDirectory("graft-txt").toString
    Tables
      .documents(spark, sf)
      .select(col("text"))
      .write.mode("overwrite").text(s"$dir/t")
    assert(spark.read.text(s"$dir/t").count() == Tables.documents(spark, sf).count())
  }

  test("batched embed stub is invariant to batch size and partitioning") {
    val media = Multimodal.toMediaFrame(
      Tables.documents(spark, sf)
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("bin"), col("source")),
      "doc_id", "bin", "source", "image")
    def embed(bs: Int, parts: Int) =
      Multimodal.batchedEmbedStub(media.repartition(parts), dim = 16, batchSize = bs)
        .select(col("media_id"), col("embedding").cast("string").as("e"))
    val a = embed(4, 2)
    val b = embed(64, 7)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    val one = a.limit(1).collect().head
    assert(one.getString(1).split(",").length == 16)
  }

  test("header parser inverts the builders for every format") {
    import Multimodal._
    for (w <- Seq(1, 17, 511, 1024, 65535); h <- Seq(1, 64, 4096)) {
      val p = parseHeader(buildPng(w, h))
      assert(p == MediaHeader("png", Some(w), Some(h), None, None), s"png $w x $h")
    }
    for (w <- Seq(1, 320, 65535); h <- Seq(1, 240, 65535)) {
      val j = parseHeader(buildJpeg(w, h))
      assert(j == MediaHeader("jpeg", Some(w), Some(h), None, None), s"jpeg $w x $h")
    }
    for (sr <- Seq(8000, 44100, 192000); ch <- Seq(1, 2, 8)) {
      val a = parseHeader(buildWav(sr, ch))
      assert(a == MediaHeader("wav", None, None, Some(sr), Some(ch)), s"wav $sr/$ch")
    }
    for (w <- Seq(1, 1024, 65535); h <- Seq(1, 256, 65535)) {
      val g = parseHeader(buildGif(w, h))
      assert(g == MediaHeader("gif", Some(w), Some(h), None, None), s"gif $w x $h")
    }
    // MP4 16.16 fixed-point dims fit 16 bits; WebP VP8/VP8L 14 bits,
    // VP8X LE24
    for (w <- Seq(1, 1920, 65535); h <- Seq(1, 1080, 65535)) {
      val m = parseHeader(buildMp4(w, h))
      assert(m == MediaHeader("mp4", Some(w), Some(h), None, None), s"mp4 $w x $h")
    }
    for (w <- Seq(1, 640, 16383); h <- Seq(1, 480, 16383)) {
      val wl = parseHeader(buildWebpLossy(w, h))
      assert(wl == MediaHeader("webp", Some(w), Some(h), None, None),
        s"webp-lossy $w x $h")
      val wll = parseHeader(buildWebpLossless(w, h))
      assert(wll == MediaHeader("webp", Some(w), Some(h), None, None),
        s"webp-lossless $w x $h")
    }
    for (w <- Seq(1, 4096, 1 << 24); h <- Seq(1, 2160, 1 << 24)) {
      val wx = parseHeader(buildWebpX(w, h))
      assert(wx == MediaHeader("webp", Some(w), Some(h), None, None),
        s"webp-x $w x $h")
    }
  }

  test("header parser is null-safe on garbage: truncations, corrupt magics") {
    import Multimodal._
    val wholes = Seq(buildPng(640, 480), buildJpeg(320, 240),
      buildWav(44100, 2), buildGif(320, 200), buildMp4(1920, 1080),
      buildWebpLossy(640, 480), buildWebpLossless(640, 480),
      buildWebpX(640, 480))
    // every truncation prefix parses without throwing, and never invents
    // dimensions the bytes don't contain
    wholes.foreach { whole =>
      val full = parseHeader(whole)
      (0 until whole.length).foreach { n =>
        val got = parseHeader(whole.take(n))
        assert(got.width.forall(full.width.contains),
          s"truncation at $n invented width: $got")
        assert(got.sampleRate.forall(full.sampleRate.contains),
          s"truncation at $n invented rate: $got")
      }
    }
    // flipping any single byte must never throw (dims may legitimately
    // differ if the flipped byte IS a dimension byte)
    wholes.foreach { whole =>
      (0 until whole.length).foreach { i =>
        val m = whole.clone(); m(i) = (m(i) ^ 0x5a).toByte
        parseHeader(m)
      }
    }
    assert(parseHeader(null).format == "unknown")
    assert(parseHeader(Array.emptyByteArray).format == "unknown")
    assert(parseHeader("not a media file at all".getBytes).format == "unknown")
    // a JPEG whose marker stream ends without any SOF yields no dims
    val noSof = Array(0xff, 0xd8, 0xff, 0xd9).map(_.toByte)
    assert(parseHeader(noSof) == MediaHeader("jpeg", None, None, None, None))
  }
}
