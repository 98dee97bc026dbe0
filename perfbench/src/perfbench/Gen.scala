package perfbench

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets
import java.time.{LocalDate, LocalDateTime, ZoneOffset}
import scala.collection.mutable
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded EDF recording: the generator writes it and answers, from the same
  * arithmetic, what any correct reader must see (counts, sums, timestamps,
  * calibrated values). Sample values are a per-channel sine plus hashed
  * noise, so any sample is computable without replaying the file.
  *
  * `segments` lists (first record, onset seconds) for EDF+D; one segment
  * at onset 0 means EDF+C. Every record lasts one second.
  */
final case class EdfRecording(path: String, labels: IndexedSeq[String], rates: IndexedSeq[Int],
                              nRec: Int, startUs: Long, segments: IndexedSeq[(Int, Long)],
                              seed: Long) {
  require(labels.size == rates.size && nRec > 0 && segments.head == ((0, 0L)))
  val discontiguous: Boolean = segments.size > 1
  val annSamples: Int = if (discontiguous) 16 else 0
  val nSig: Int = labels.size
  val headerBytes: Int = 256 + (nSig + (if (discontiguous) 1 else 0)) * 256
  val recordBytes: Long = rates.map(_ * 2L).sum + annSamples * 2L
  val fileBytes: Long = headerBytes + nRec * recordBytes

  // Same constants and the same double arithmetic as graft's EdfSignal.
  private val physMin = -3276.8; private val physMax = 3276.7
  private val digMin = -32768.0; private val digMax = 32767.0
  val bitValue: Double = (physMax - physMin) / (digMax - digMin)
  val offset: Double = physMax / bitValue - digMax

  def digital(ch: Int, i: Long): Int = {
    val wave = math.sin(2 * math.Pi * (ch + 1) * (i % 4096) / 4096.0) * 9000
    val noise = (Gen.mix(seed * 1000003L + ch * 7919L + i) & 2047L) - 1024
    math.max(-32768, math.min(32767, math.round(wave).toInt + noise.toInt))
  }
  def value(ch: Int, i: Long): Double = bitValue * (offset + digital(ch, i).toDouble)

  /** Record onset in seconds past the start (TAL onset for EDF+D). */
  def onsetS(rec: Int): Long = {
    val (first, onset) = segments.takeWhile(_._1 <= rec).last
    onset + (rec - first)
  }
  def recordStartUs(rec: Int): Long = startUs + onsetS(rec) * 1000000L
  /** Timestamp of sample `i` of channel `ch`, as graft's reader derives it. */
  def tsUs(ch: Int, i: Long): Long = {
    val n = rates(ch)
    recordStartUs((i / n).toInt) + (i % n) * 1000000L / n
  }
  /** Segment k as (first record, record count). */
  def segmentRecords(k: Int): (Int, Int) = {
    val first = segments(k)._1
    val end = if (k + 1 < segments.size) segments(k + 1)._1 else nRec
    (first, end - first)
  }

  /** Count and sum of calibrated values over records [recLo, recHi) of
    * the given channels — what a record-aligned window read must return. */
  def windowExpect(chans: Seq[Int], recLo: Int, recHi: Int): (Long, Double, Double) = {
    var n = 0L; var s = 0.0; var abs = 0.0
    chans.foreach { c =>
      var i = recLo.toLong * rates(c)
      val end = recHi.toLong * rates(c)
      while (i < end) { val v = value(c, i); s += v; abs += math.abs(v); n += 1; i += 1 }
    }
    (n, s, abs)
  }

  private def pad(s: String, n: Int): Array[Byte] = {
    val b = s.getBytes(StandardCharsets.US_ASCII)
    require(b.length <= n, s"field '$s' overflows $n bytes")
    b ++ Array.fill(n - b.length)(' '.toByte)
  }

  def write(): Unit = {
    val start = LocalDateTime.ofEpochSecond(startUs / 1000000L, 0, ZoneOffset.UTC)
    val ns = nSig + (if (discontiguous) 1 else 0)
    val isAnn = (s: Int) => s == nSig
    val out = new BufferedOutputStream(new FileOutputStream(path), 1 << 20)
    try {
      out.write(pad("0", 8)); out.write(pad("perfbench", 80)); out.write(pad(s"seed $seed", 80))
      out.write(pad(f"${start.getDayOfMonth}%02d.${start.getMonthValue}%02d.${start.getYear % 100}%02d", 8))
      out.write(pad(f"${start.getHour}%02d.${start.getMinute}%02d.${start.getSecond}%02d", 8))
      out.write(pad(headerBytes.toString, 8))
      out.write(pad(if (discontiguous) "EDF+D" else "EDF+C", 44))
      out.write(pad(nRec.toString, 8)); out.write(pad("1", 8)); out.write(pad(ns.toString, 4))
      def field(w: Int, f: Int => String): Unit = (0 until ns).foreach(s => out.write(pad(f(s), w)))
      field(16, s => if (isAnn(s)) "EDF Annotations" else labels(s))
      field(80, _ => "")
      field(8, s => if (isAnn(s)) "" else "uV")
      field(8, s => if (isAnn(s)) "-1" else "-3276.8")
      field(8, s => if (isAnn(s)) "1" else "3276.7")
      field(8, _ => "-32768"); field(8, _ => "32767")
      field(80, _ => "")
      field(8, s => if (isAnn(s)) annSamples.toString else rates(s).toString)
      field(32, _ => "")
      val rec = new Array[Byte](recordBytes.toInt)
      var r = 0
      while (r < nRec) {
        var off = 0
        var c = 0
        while (c < nSig) {
          val n = rates(c)
          var j = 0
          while (j < n) {
            val d = digital(c, r.toLong * n + j)
            rec(off) = (d & 0xff).toByte; rec(off + 1) = ((d >> 8) & 0xff).toByte
            off += 2; j += 1
          }
          c += 1
        }
        if (discontiguous) {
          java.util.Arrays.fill(rec, off, rec.length, 0.toByte)
          val tal = s"+${onsetS(r)}".getBytes(StandardCharsets.US_ASCII) ++ Array[Byte](0x14, 0x14, 0x00)
          System.arraycopy(tal, 0, rec, off, tal.length)
        }
        out.write(rec)
        r += 1
      }
    } finally out.close()
  }
}

object Gen {
  /** splitmix64 finalizer: the generator's random-access noise source. */
  def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  val Epoch2024Us: Long = LocalDateTime.of(2024, 1, 1, 0, 0).toEpochSecond(ZoneOffset.UTC) * 1000000L

  /** EDF+D segment layout: `nRec` records split at seeded positions into
    * segments of at least `minSeg` records, each gap a seeded 30–600 s. */
  def segments(rnd: java.util.Random, nRec: Int, nSeg: Int, minSeg: Int): IndexedSeq[(Int, Long)] = {
    require(nSeg * minSeg <= nRec)
    val slack = nRec - nSeg * minSeg
    val cuts = (Seq.fill(nSeg - 1)(rnd.nextInt(slack + 1)).sorted :+ slack)
    var first = 0; var onset = 0L; var prevCut = 0
    (0 until nSeg).map { k =>
      val seg = (first, onset)
      val len = minSeg + cuts(k) - prevCut
      prevCut = cuts(k)
      first += len
      onset += len + 30 + rnd.nextInt(571)
      seg
    }
  }

  // ---------------------------------------------------------------- tables

  private val Vocab = ("join hash row batch scan customer column filter small slow merge vector " +
    "order line data table agg value key stream window a spark part group big sort query fast the")
    .split(" ")

  /** Rows per table at scale factor `sf` (the same ratios as the star
    * schema graft's declared queries are written against). */
  def tableRows(sf: Double): Map[String, Int] = Map(
    "region" -> 5, "nation" -> 25,
    "customer" -> (150000 * sf).toInt, "supplier" -> (10000 * sf).toInt,
    "part" -> (200000 * sf).toInt, "orders" -> (1500000 * sf).toInt,
    "lineitem" -> (6000000 * sf).toInt, "events" -> (1000000 * sf).toInt,
    "documents" -> (50000 * sf).toInt, "embeddings" -> (50000 * sf).toInt)

  /** Generate the named tables of `graft.Tables` under `dir` as single-file
    * parquet, from a fixed seed so the reference fingerprints apply. Each
    * table has its own random stream, so any subset is the same data. */
  def writeTables(spark: SparkSession, dir: String, sf: Double, seed: Long, names: Seq[String]): Unit = {
    val n = tableRows(sf)
    def rnd(table: String) = new java.util.Random(seed * 31 + table.hashCode)
    def money(r: java.util.Random, lo: Double, hi: Double) =
      math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0
    def day(r: java.util.Random, from: LocalDate, to: LocalDate) =
      from.plusDays(r.nextInt((to.toEpochDay - from.toEpochDay).toInt + 1).toLong).atStartOfDay()
    val tables = mutable.LinkedHashMap.empty[String, () => Unit]
    def save(name: String, schema: StructType, rows: => Seq[Row]): Unit =
      tables(name) = () => spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    def f(name: String, t: DataType) = StructField(name, t, nullable = true)

    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    save("region", StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))),
      regions.indices.map(i => Row(i, regions(i))))
    save("nation", StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
      f("n_regionkey", IntegerType))), (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))

    val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    save("customer", StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
      f("c_nationkey", IntegerType), f("c_acctbal", DoubleType), f("c_mktsegment", StringType))),
      { val rc = rnd("customer"); (0 until n("customer")).map(i => Row(i.toLong, f"Customer#$i%09d", rc.nextInt(25),
        money(rc, -999.99, 9999.99), segs(rc.nextInt(segs.size)))) })
    save("supplier", StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
      f("s_nationkey", IntegerType), f("s_acctbal", DoubleType))),
      { val rs = rnd("supplier"); (0 until n("supplier")).map(i => Row(i.toLong, f"Supplier#$i%09d", rs.nextInt(25),
        money(rs, -999.99, 9999.99))) })

    val adj = Seq("red", "small", "hot", "old", "large", "blue", "cold", "new")
    val noun = Seq("plate", "widget", "ring", "rod", "bolt", "gizmo", "gear", "anvil")
    val types = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
    save("part", StructType(Seq(f("p_partkey", LongType), f("p_name", StringType),
      f("p_brand", StringType), f("p_type", StringType), f("p_size", IntegerType),
      f("p_retailprice", DoubleType))),
      { val rp = rnd("part"); (0 until n("part")).map(i => Row(i.toLong, s"${adj(rp.nextInt(8))} ${noun(rp.nextInt(8))}",
        s"Brand#${1 + rp.nextInt(25)}", types(rp.nextInt(6)), 1 + rp.nextInt(50),
        (9000 + i % 1000) / 10.0)) })

    val prio = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    save("orders", StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
      f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
      f("o_orderdate", TimestampNTZType), f("o_orderpriority", StringType))),
      { val ro = rnd("orders"); (0 until n("orders")).map(i => Row(i.toLong, ro.nextInt(n("customer")).toLong,
        Seq("F", "O", "P")(ro.nextInt(3)), money(ro, 1000, 500000),
        day(ro, LocalDate.of(1995, 1, 1), LocalDate.of(2001, 8, 1)), prio(ro.nextInt(5)))) })

    save("lineitem", StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
      f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
      f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
      f("l_returnflag", StringType), f("l_linestatus", StringType),
      f("l_shipdate", TimestampNTZType))),
      { val rl = rnd("lineitem"); (0 until n("lineitem")).map(_ => Row(rl.nextInt(n("orders")).toLong,
        rl.nextInt(n("part")).toLong, rl.nextInt(n("supplier")).toLong, 1 + rl.nextInt(7),
        (1 + rl.nextInt(50)).toDouble, money(rl, 900, 105000), money(rl, 0, 0.1),
        money(rl, 0, 0.08), Seq("A", "N", "R")(rl.nextInt(3)), Seq("F", "O")(rl.nextInt(2)),
        day(rl, LocalDate.of(1995, 1, 2), LocalDate.of(2001, 11, 4)))) })

    val evTypes = Seq("click", "error", "purchase", "signup", "view")
    save("events", StructType(Seq(f("event_id", LongType), f("ts", TimestampNTZType),
      f("user_id", LongType), f("event_type", StringType), f("value", DoubleType),
      f("props", StringType))), {
      val re = rnd("events")
      val nEv = n("events")
      val meanGapUs = 30L * 86400L * 1000000L / nEv
      var tsUs = Epoch2024Us
      (0 until nEv).map { i =>
        tsUs += (-math.log(1 - re.nextDouble()) * meanGapUs).toLong
        Row(i.toLong, LocalDateTime.ofEpochSecond(tsUs / 1000000L, (tsUs % 1000000L).toInt * 1000,
          ZoneOffset.UTC), re.nextInt(math.max(1, (15000 * sf).toInt)).toLong,
          evTypes(re.nextInt(5)), math.max(0.01, math.round(-math.log(1 - re.nextDouble()) * 5000) / 100.0),
          s"""{"k": ${re.nextInt(100)}}""")
      }
    })

    val langs = Seq("en", "en", "en", "zh", "es", "de", "fr")
    save("documents", StructType(Seq(f("doc_id", LongType), f("text", StringType),
      f("lang", StringType), f("source", StringType), f("n_chars", LongType))), {
      val rd = rnd("documents")
      val nDoc = n("documents")
      val texts = Array.fill(nDoc)(Seq.fill(8 + rd.nextInt(92))(Vocab(rd.nextInt(Vocab.length))).mkString(" "))
      // one document in twenty is another document plus a marker word: the
      // near-duplicate clusters the dedup operators look for
      (0 until nDoc).foreach { i =>
        if (rd.nextInt(20) == 0) texts(i) = texts(rd.nextInt(nDoc)) + " dup"
      }
      (0 until nDoc).map(i => Row(i.toLong, texts(i), langs(rd.nextInt(langs.size)),
        s"src${i % 20}", texts(i).length.toLong))
    })
    save("embeddings", StructType(Seq(f("vec_id", LongType),
      f("embedding", ArrayType(FloatType, containsNull = true)), f("label", IntegerType))),
      { val rv = rnd("embeddings"); (0 until n("embeddings")).map { i =>
        val v = Array.fill(64)(rv.nextGaussian())
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, rv.nextInt(10))
      } })
    val unknown = names.filterNot(tables.contains)
    require(unknown.isEmpty, s"unknown tables: ${unknown.mkString(", ")}")
    // independent Spark jobs: write them concurrently
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(4, names.size))
    try names.map(nm => pool.submit(new Runnable { def run(): Unit = tables(nm)() })).foreach(_.get())
    finally pool.shutdown()
  }
}
