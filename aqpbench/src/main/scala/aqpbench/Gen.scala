package aqpbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

import scala.collection.mutable


/** Word -> count (or key -> value) tables, merged per file. */
object Counts {
  type T = mutable.HashMap[String, Long]
  def empty: T = mutable.HashMap.empty[String, Long]
  def add(t: T, k: String, v: Long): Unit = t.update(k, t.getOrElse(k, 0L) + v)
  def merge(ts: Iterable[T]): Map[String, Long] = {
    val out = empty
    ts.foreach(_.foreach { case (k, v) => add(out, k, v) })
    out.toMap
  }
}

/** Plain-Scala replays of the engine's deterministic predicates, used to
  * compute expected answers without Spark.
  */
object Replay {
  /** `UniverseSampled.residue`: md5 of "u:" + unit, first 15 hex digits as
    * a number, mod 100.
    */
  private val md5 = ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))

  def universeResidue(unit: String): Int = {
    val d = md5.get.digest(("u:" + unit).getBytes(UTF_8))
    var h = 0L
    var i = 0
    while (i < 15) {
      val b = d(i / 2) & 0xff
      h = (h << 4) | (if (i % 2 == 0) b >>> 4 else b & 0xf)
      i += 1
    }
    (h % 100).toInt
  }

  def universeKeep(unit: String, pct: Int): Boolean = universeResidue(unit) < pct

  /** `ReferenceQueries.wordCount`'s token semantics on one line: lowercase,
    * drop the line if it holds a digit, split on non-[a-z0-9], drop empty
    * and all-digit tokens (the corpus is ASCII, so the ASCII fast path of
    * lower() applies).
    */
  def words(line: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i <= line.length) {
      val c = if (i < line.length) Character.toLowerCase(line.charAt(i)) else ' '
      if (c >= '0' && c <= '9') return Nil
      if (c >= 'a' && c <= 'z') sb.append(c)
      else if (sb.length > 0) { out += sb.toString; sb.setLength(0) }
      i += 1
    }
    out.result()
  }
}

/** The `wordcount-ladder` input: a documents-shaped parquet directory
  * (`doc_id BIGINT, text STRING`) of `files` part files with Zipf-like word
  * frequencies, plus its exact answers.
  */
final case class Corpus(
    dir: String,
    lines: Long,
    bytes: Long,
    perFile: Map[String, Map[String, Long]], // file name -> word counts
    universe10: Map[String, Long]) {         // word counts over the 10 % universe sample
  lazy val exact: Map[String, Long] = Counts.merge(perFile.values.map(m => Counts.empty ++= m))
}

object CorpusGen {

  def vocabulary(rnd: SplittableRandom, n: Int): Array[String] = {
    val seen = mutable.LinkedHashSet.empty[String]
    while (seen.size < n) {
      val len = 2 + rnd.nextInt(8)
      seen += (0 until len).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    }
    seen.toArray
  }

  /** Cumulative Zipf weights 1/k^s, for inverse-CDF draws. */
  def zipfCdf(n: Int, s: Double): Array[Double] = {
    val c = new Array[Double](n)
    var acc = 0.0
    var k = 0
    while (k < n) { acc += 1.0 / math.pow(k + 1, s); c(k) = acc; k += 1 }
    c
  }

  def draw(rnd: SplittableRandom, cdf: Array[Double]): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble() * cdf(cdf.length - 1))
    if (i >= 0) i else math.min(-i - 1, cdf.length - 1)
  }

  private val Seps = Array(" ", " ", " ", " ", ", ", ". ", " -- ", "; ", "! ")

  def line(rnd: SplittableRandom, vocab: Array[String], cdf: Array[Double]): String = {
    val n = 4 + rnd.nextInt(14)
    val sb = new StringBuilder
    var j = 0
    while (j < n) {
      if (j > 0) sb.append(Seps(rnd.nextInt(Seps.length)))
      val w = vocab(draw(rnd, cdf))
      sb.append(if (rnd.nextInt(12) == 0) w.capitalize else w)
      j += 1
    }
    // a few lines carry a number: the word count drops such lines whole
    if (rnd.nextInt(40) == 0) sb.append(" ").append(1900 + rnd.nextInt(200))
    sb.toString
  }

  private val DocSchema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
    "message documents { required int64 doc_id; required binary text (STRING); }")

  /** Files are generated and written in parallel, each from its own seeded
    * stream, with their expected counts computed alongside. Part files get
    * stable names `part-NNNNN.parquet`: file-level sampling decides by
    * file name.
    */
  def generate(dir: String, seed: Long, lines: Int, files: Int): Corpus = {
    val vocab = vocabulary(new SplittableRandom(seed), 40000)
    val cdf = zipfCdf(vocab.length, 1.05)
    new File(dir).mkdirs()
    val parts = Parallel.map(0 until files) { f =>
      val rnd = new SplittableRandom(seed * 1000003L + f + 1)
      val first = f.toLong * lines / files
      val name = f"part-$f%05d.parquet"
      val counts, uni = Counts.empty
      val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
        .builder(new org.apache.hadoop.fs.Path(new File(dir, name).getAbsolutePath))
        .withType(DocSchema).build()
      val rows = new org.apache.parquet.example.data.simple.SimpleGroupFactory(DocSchema)
      try {
        for (id <- first until (f + 1).toLong * lines / files) {
          val text = line(rnd, vocab, cdf)
          w.write(rows.newGroup().append("doc_id", id).append("text", text))
          val ws = Replay.words(text)
          ws.foreach(w => Counts.add(counts, w, 1))
          if (Replay.universeKeep(id.toString, 10)) ws.foreach(w => Counts.add(uni, w, 1))
        }
      } finally w.close()
      (name, counts, uni)
    }
    new File(dir).listFiles().filter(_.getName.startsWith(".")).foreach(_.delete()) // writer checksums
    Corpus(dir, lines, dirBytes(dir),
      parts.map(p => p._1 -> p._2.toMap).toMap, Counts.merge(parts.map(_._3)))
  }

  def dirBytes(dir: String): Long = new File(dir).listFiles().map(_.length).sum
}

object Parallel {
  /** `f` over `xs` on a pool of the host's cores, results in order. */
  def map[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Runtime.getRuntime.availableProcessors)
    try {
      val fs = xs.map(x => pool.submit(new java.util.concurrent.Callable[B] { def call(): B = f(x) }))
      fs.map(_.get)
    } finally pool.shutdown()
  }
}

object Files {
  /** `key\tvalue` lines of a K1 sink directory's part files. */
  def readKv(dir: String): Map[String, Long] = {
    val parts = new File(dir).listFiles().filter(f => f.getName.startsWith("part-")).sortBy(_.getName)
    parts.iterator.flatMap { p =>
      val src = scala.io.Source.fromFile(p, "UTF-8")
      try src.getLines().toList finally src.close()
    }.map { l =>
      val i = l.indexOf('\t')
      l.substring(0, i) -> l.substring(i + 1).toLong
    }.toMap
  }

  def bytesUnder(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(bytesUnder).sum).getOrElse(0L) else f.length

  def filesUnder(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(filesUnder).sum).getOrElse(0L)
    else if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0L else 1L
}
