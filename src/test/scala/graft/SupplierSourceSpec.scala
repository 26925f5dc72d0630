package graft

import graft.sources.{SupplierPartition, SupplierRegistry}
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicInteger
import scala.util.{Failure, Success, Try}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** The DSv2 Supplier source must deliver every fetched batch exactly
  * once, skip supplier errors without advancing, and idle on empty
  * fetches — the reference's dispatcher semantics as a Spark source.
  */
class SupplierSourceSpec extends AnyFunSuite {
  import SparkTestSession._

  /** Streams supplier `id` through `transform` into memory sink `sink`
    * until it holds `want` rows (20 s at most), then unregisters `id`.
    */
  private def drain(id: String, sink: String, want: Int)(transform: DataFrame => DataFrame): Seq[Row] = {
    val q = transform(spark.readStream.format("graft.sources.SupplierSource")
      .option("supplierId", id).load())
      .writeStream.format("memory").queryName(sink)
      .outputMode("append").start()
    try {
      val deadline = System.currentTimeMillis() + 20000
      while (spark.table(sink).count() < want && System.currentTimeMillis() < deadline) {
        q.processAllAvailable()
        Thread.sleep(50)
      }
    } finally {
      q.stop()
      SupplierRegistry.unregister(id)
    }
    spark.table(sink).collect().toSeq
  }

  test("supplier batches flow through a distributed transform exactly once") {
    val n = new AtomicInteger(0)
    SupplierRegistry.register("s1", () => {
      val i = n.getAndIncrement()
      if (i < 3) Success(Seq(s"batch$i-a", s"batch$i-b"))
      else if (i == 3) Failure(new RuntimeException("fetch boom")) // skipped
      else Success(Seq.empty) // drained
    })
    val got = drain("s1", "supplier_out", 6)(
      _.select(upper(col("value")).as("v"))) // distributed transform
      .map(_.getString(0)).sorted
    assert(got.sameElements((0 until 3).flatMap(i =>
      Seq(s"BATCH$i-A", s"BATCH$i-B")).sorted), s"got: ${got.mkString(",")}")
  }

  test("unknown supplier id fails loudly") {
    val df = spark.readStream.format("graft.sources.SupplierSource")
      .option("supplierId", "nope").load()
    val e = intercept[Exception] {
      val q = df.writeStream.format("memory").queryName("nope_out").start()
      try q.processAllAvailable() finally q.stop()
    }
    assert(e.getMessage.contains("invalid supplier") ||
      Option(e.getCause).exists(_.getMessage.contains("invalid supplier")))
  }

  test("a batch crosses to the executors as UTF-8, row for row, nulls and odd text intact") {
    val rows = Seq("first", null, "", "naïve café — ÿ", "𝄞 clef 😀", "lone \ud800 surrogate", "x" * 300, "last")
    val sent = new AtomicInteger(0)
    SupplierRegistry.register("s_utf8", () =>
      if (sent.getAndIncrement() == 0) Success(rows) else Success(Seq.empty))
    val got = drain("s_utf8", "supplier_utf8_out", rows.size)(
      _.select(col("value"), hex(col("value")).as("hex")))
    assert(got.size == rows.size, s"got: $got")
    def hexOf(u: UTF8String) = u.getBytes.map(b => f"${b & 0xff}%02X").mkString
    rows.zip(got).foreach { case (in, out) =>
      if (in == null) assert(out.isNullAt(0) && out.isNullAt(1), s"null became $out")
      else {
        val want = UTF8String.fromString(in)
        assert(out.getString(0) == want.toString, s"$in became ${out.getString(0)}")
        assert(out.getString(1) == hexOf(want), s"$in: bytes ${out.getString(1)}, want ${hexOf(want)}")
      }
    }
    // the partition itself hands back views equal to fromString, in order
    val part = SupplierPartition(rows)
    assert(part.size == rows.size)
    rows.indices.foreach { i =>
      assert(part.row(i) == (if (rows(i) == null) null else UTF8String.fromString(rows(i))), s"row $i")
    }
  }

  test("a serialized 5000-row partition costs its UTF-8 bytes plus 4 bytes a row, within 1 KiB") {
    val rng = new java.util.Random(7)
    val rows = (0 until 5000).map(i =>
      if (i % 97 == 0) null
      else Seq.fill(8 + rng.nextInt(33))(s"word${rng.nextInt(64)}é").mkString(" "))
    val utf8Bytes = rows.filter(_ != null).map(_.getBytes(StandardCharsets.UTF_8).length.toLong).sum
    val out = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(out)
    oos.writeObject(SupplierPartition(rows))
    oos.close()
    val bound = utf8Bytes + 4L * rows.size + 1024
    assert(out.size <= bound, s"serialized ${out.size} bytes > $bound (UTF-8 $utf8Bytes)")
  }
}
