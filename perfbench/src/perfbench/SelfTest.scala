package perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** The benchmark's own JVM-side tests: fingerprint canonicalisation and the
  * EDF generator's analytic expectations against graft's reader. Prints one
  * line per failed check and exits non-zero if any failed.
  *
  * Run: python3 -m unittest discover -s perfbench/tests
  */
object SelfTest {
  private var failures = 0
  private def check(name: String)(cond: => Boolean): Unit =
    if (!(try cond catch { case e: Throwable => println(s"$name threw $e"); false })) {
      failures += 1; println(s"FAIL $name")
    } else println(s"ok   $name")

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse(sys.error("usage: SelfTest <scratch dir>"))
    fingerprint()
    generator(dir)
    if (failures > 0) { println(s"$failures failed"); sys.exit(1) }
  }

  private def fingerprint(): Unit = {
    import Fingerprint._
    val rows = Seq(Row(1L, "a", 0.5), Row(2L, "b", -1.25), Row(3L, null, 1e-300))
    check("fingerprint: row order does not matter")(of(rows.iterator) == of(rows.reverse.iterator))
    check("fingerprint: a changed value changes the hash")(
      of(rows.iterator) != of((rows.init :+ Row(3L, null, 2e-300)).iterator))
    check("fingerprint: a duplicated row changes the hash")(
      of(rows.iterator)._2 != of((rows :+ rows.head).iterator)._2)
    check("canonical: -0.0 is 0.0")(canonical(Row(-0.0)) == canonical(Row(0.0)))
    check("canonical: -0.0f is 0.0")(canonical(Row(-0.0f)) == canonical(Row(0.0)))
    val otherNaN = java.lang.Double.longBitsToDouble(0x7ff8000000000123L)
    check("canonical: every NaN is one NaN")(canonical(Row(otherNaN)) == canonical(Row(Double.NaN)) &&
      canonical(Row(Float.NaN)) == canonical(Row(Double.NaN)))
    check("canonical: last-bit float noise is absorbed")(
      canonical(Row(0.1 + 0.2)) == canonical(Row(0.3)))
    check("canonical: 12 significant digits still tell values apart")(
      canonical(Row(1.00000000001)) != canonical(Row(1.0)))
    check("canonical: strings are length-prefixed")(
      canonical(Row("a,b", "c")) != canonical(Row("a", "b,c")))
    check("canonical: null is not the string \"null\"")(canonical(Row(null)) != canonical(Row("null")))
    check("canonical: map entry order does not matter")(
      canonical(Row(Map("x" -> 1, "y" -> 2))) == canonical(Row(scala.collection.immutable.ListMap("y" -> 2, "x" -> 1))))
    check("canonical: array element order matters")(
      canonical(Row(Seq(1, 2))) != canonical(Row(Seq(2, 1))))
  }

  private def generator(dir: String): Unit = {
    new java.io.File(dir).mkdirs()
    val rnd = new java.util.Random(7)
    val segs = Gen.segments(rnd, 120, 4, 10)
    val lens = segs.indices.map(k => (segs(k)._1, if (k + 1 < segs.size) segs(k + 1)._1 else 120))
    check("segments: cover every record, each at least the minimum")(
      segs.head == ((0, 0L)) && lens.last._2 == 120 && lens.forall { case (a, b) => b - a >= 10 })
    check("segments: gaps of 30-600 s between segments")(segs.indices.tail.forall { k =>
      val (first, onset) = segs(k); val (pf, po) = segs(k - 1)
      val gap = onset - (po + (first - pf))
      gap >= 30 && gap <= 600
    })
    val c = EdfRecording(s"$dir/c.edf", IndexedSeq("x0", "x1", "x2"), IndexedSeq(256, 256, 200), 30,
      Gen.Epoch2024Us, IndexedSeq((0, 0L)), 11)
    val d = EdfRecording(s"$dir/d.edf", IndexedSeq("y0", "y1"), IndexedSeq(128, 128), 120,
      Gen.Epoch2024Us + 3600L * 1000000L, segs, 12)
    c.write(); d.write()
    check("generator: file size is header + records")(
      new java.io.File(c.path).length == c.fileBytes && new java.io.File(d.path).length == d.fileBytes)
    val hc = graft.sources.EdfFile.readHeader(c.path)
    val hd = graft.sources.EdfFile.readHeader(d.path)
    check("generator: headers parse to the generated layout")(
      hc.nbDataRec == 30 && !hc.isDiscontiguous && hc.startUs == c.startUs &&
        hc.signals.map(_.nrSamples) == Seq(256, 256, 200) && hd.isDiscontiguous &&
        hd.signals.count(_.isAnnotation) == 1 && hd.startUs == d.startUs)
    check("generator: calibration constants match graft's")(
      hc.signals.head.bitValue == c.bitValue && hc.signals.head.offset == c.offset)

    val spark = graft.GraftSession.builder("local[2]", 2).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val rows = spark.read.format("edf").load(c.path)
      val byChan = rows.groupBy("channel_idx").agg(count(lit(1)), sum("value"), min("ts_us"), max("ts_us"))
        .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2), r.getLong(3), r.getLong(4)))).toMap
      check("generator: per-channel count and sum match the analytic expectation")(c.labels.indices.forall { ch =>
        val (n, s, abs) = c.windowExpect(Seq(ch), 0, c.nRec)
        val (gn, gs, lo, hi) = byChan(ch)
        gn == n && math.abs(gs - s) <= abs * 1e-9 && lo == c.tsUs(ch, 0) && hi == c.tsUs(ch, n - 1)
      })
      val sample = rows.filter(col("channel_idx") === 2 && col("sample_idx") === 4321L)
        .select("value", "ts_us").head()
      check("generator: one decoded sample equals value() and tsUs()")(
        sample.getDouble(0) == c.value(2, 4321L) && sample.getLong(1) == c.tsUs(2, 4321L))
      val (first, len) = d.segmentRecords(2)
      val lo = d.recordStartUs(first); val hi = d.recordStartUs(first + len - 1) + 1000000L
      val seg = spark.read.format("edf").load(d.path).filter(col("ts_us") >= lo && col("ts_us") < hi)
        .agg(count(lit(1)), sum("value")).head()
      val (en, es, eabs) = d.windowExpect(Seq(0, 1), first, first + len)
      check("generator: an EDF+D segment window holds exactly that segment")(
        seg.getLong(0) == en && math.abs(seg.getDouble(1) - es) <= eabs * 1e-9)
      val onsets = spark.read.format("edf").load(d.path).filter(col("channel_idx") === 0)
        .groupBy("record_idx").agg(min("ts_us")).collect().map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
      check("generator: every EDF+D record starts at its TAL onset")(
        (0 until d.nRec).forall(r => onsets(r) == d.recordStartUs(r)))

      Gen.writeTables(spark, s"$dir/tables", 0.001, 42, Seq("documents", "events"))
      Gen.writeTables(spark, s"$dir/tables2", 0.001, 42, Seq("events"))
      val n = Gen.tableRows(0.001)
      val docs = spark.read.parquet(s"$dir/tables/documents.parquet")
      val ev = spark.read.parquet(s"$dir/tables/events.parquet")
      check("tables: row counts follow the scale factor")(
        docs.count() == n("documents") && ev.count() == n("events"))
      check("tables: a table's rows do not depend on which other tables are written")(
        ev.except(spark.read.parquet(s"$dir/tables2/events.parquet")).isEmpty)
      check("tables: events are in time order")(
        ev.orderBy("event_id").select("ts").collect().map(_.getAs[java.time.LocalDateTime](0))
          .sliding(2).forall(p => p.length < 2 || !p(0).isAfter(p(1))))
    } finally spark.stop()
  }
}
