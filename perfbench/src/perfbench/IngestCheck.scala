package perfbench

import java.io.{File, RandomAccessFile}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper

/** Checks the output of session A (overwrite) followed by session B
  * (append) against the generator's layout: per channel the chunk list
  * (index and start timestamp), `numValues`, binary length = 8 × samples,
  * and calibrated sample values at spot positions. */
object IngestCheck {
  final case class Chunk(index: Long, start: Long)

  def apply(recs: Map[String, EdfRecording], outDir: String): Option[String] = {
    val a = recs("a"); val b = recs("b")
    val mapper = new ObjectMapper()
    val manifests = new File(outDir).listFiles()
      .filter(f => f.getName.matches("channel(-\\d+)?\\.json"))
      .map(f => mapper.readTree(f)).map(n => n.get("name").asText -> n).toMap
    def chunksOf(r: EdfRecording, ch: Int, offset: Long): Seq[Chunk] =
      r.segments.indices.map { k =>
        val first = r.segmentRecords(k)._1
        Chunk(offset + first.toLong * r.rates(ch), r.recordStartUs(first))
      }
    // name -> (expected chunks, [(recording, channel, values)] in stream order)
    val expected: Map[String, (Seq[Chunk], Seq[(EdfRecording, Int, Long)])] = {
      val fromA = a.labels.indices.map { ca =>
        val nA = a.rates(ca).toLong * a.nRec
        val parts = Seq((a, ca, nA)) ++ Option(b.labels.indexOf(a.labels(ca))).filter(_ >= 0).map(cb => (b, cb, b.rates(cb).toLong * b.nRec))
        val chunks = chunksOf(a, ca, 0) ++ parts.drop(1).flatMap { case (r, c, _) => chunksOf(r, c, nA) }
        a.labels(ca) -> (chunks, parts)
      }
      val onlyB = b.labels.indices.filterNot(cb => a.labels.contains(b.labels(cb))).map { cb =>
        b.labels(cb) -> (chunksOf(b, cb, 0), Seq((b, cb, b.rates(cb).toLong * b.nRec)))
      }
      (fromA ++ onlyB).toMap
    }
    if (manifests.keySet != expected.keySet)
      return Some(s"manifests ${manifests.keySet.toSeq.sorted}, expected ${expected.keySet.toSeq.sorted}")
    val rnd = new java.util.Random(a.seed ^ b.seed)
    expected.toSeq.sortBy(_._1).iterator.map { case (name, (chunks, parts)) =>
      val m = manifests(name)
      val got = m.get("contiguousChunks").elements().asScala
        .map(c => Chunk(c.get("index").asLong, c.get("start").asLong)).toSeq
      val props = m.get("properties").elements().asScala.map(p => p.get("key").asText -> p.get("value")).toMap
      val numValues = props("numValues").asText.toLong
      val bins = props("binaryFiles").elements().asScala.map(_.asText).toSeq
      val binBytes = bins.map(f => new File(outDir, f).length).sum
      val total = parts.map(_._3).sum
      if (got != chunks) Some(s"$name: chunks $got, expected $chunks")
      else if (numValues != total) Some(s"$name: numValues $numValues, expected $total")
      else if (binBytes != 8 * total) Some(s"$name: binaries hold $binBytes bytes, expected ${8 * total}")
      else {
        val spots = Seq(0L, total - 1) ++ Seq.fill(6)((rnd.nextDouble() * total).toLong)
        spots.iterator.map { pos =>
          var rest = pos
          val (r, c, _) = parts.find { case (_, _, n) => if (rest < n) true else { rest -= n; false } }.get
          val want = r.value(c, rest)
          val have = readValue(outDir, bins, pos)
          if (have == want) None else Some(s"$name[$pos]: value $have, expected $want")
        }.collectFirst { case Some(e) => e }
      }
    }.collectFirst { case Some(e) => e }
  }

  /** Value `pos` of the stream the listed binaries form in order. */
  private def readValue(dir: String, bins: Seq[String], pos: Long): Double = {
    var rest = pos * 8
    val f = bins.map(new File(dir, _)).find(f => if (rest < f.length) true else { rest -= f.length; false }).get
    val raf = new RandomAccessFile(f, "r")
    try {
      raf.seek(rest)
      java.lang.Double.longBitsToDouble(java.lang.Long.reverseBytes(raf.readLong()))
    } finally raf.close()
  }
}
