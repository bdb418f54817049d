package etlbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.util.SplittableRandom

/** Seeded input generators. Every generator is a pure function of its
  * seed and sizes: the same seed gives byte-identical rows, so the same
  * inputs, on every run. Only the content varies with the seed; row
  * counts and the planted structure (duplicates, variants, junk) do not,
  * so two seeds cost the same work.
  */
object Gen {

  /** Running SHA-256 over the canonical text form of generated rows. */
  final class Digest {
    private val md = MessageDigest.getInstance("SHA-256")
    def add(fields: Any*): Unit = {
      md.update(fields.mkString("\u0001").getBytes(StandardCharsets.UTF_8))
      md.update(0x0a.toByte)
    }
    def hex: String = md.digest().map("%02x".format(_)).mkString
  }

  def rng(seed: Long, salt: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ salt)

  private val consonants = "bcdfghjklmnprstvwz"
  private val vowels = "aeiou"

  /** A pronounceable lowercase word of `syllables` syllables. */
  private def word(r: SplittableRandom, syllables: Int): String = {
    val sb = new StringBuilder
    (0 until syllables).foreach { _ =>
      sb += consonants.charAt(r.nextInt(consonants.length))
      sb += vowels.charAt(r.nextInt(vowels.length))
    }
    if (r.nextInt(3) == 0) sb += consonants.charAt(r.nextInt(consonants.length))
    sb.toString
  }

  /** `n` distinct pronounceable words. */
  def distinctWords(r: SplittableRandom, n: Int): Vector[String] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < n) seen += word(r, 2 + r.nextInt(2))
    seen.toVector
  }

  /** Write `groups` of rows as `files` CSV part files under `dir`, every
    * field quoted, each group whole in one file and in order.
    */
  def writeCsv(dir: String, header: Seq[String], groups: Seq[Seq[Seq[Any]]], files: Int): Unit = {
    val d = new java.io.File(dir)
    Workload.deleteTree(d)
    d.mkdirs()
    def line(fields: Seq[Any]) = fields.map(f => "\"" + f.toString.replace("\"", "\"\"") + "\"")
      .mkString("", ",", "\n")
    groups.zipWithIndex.groupBy { case (_, i) => i.toLong * files / groups.size }.toSeq.sortBy(_._1)
      .foreach { case (part, gs) =>
        val w = java.nio.file.Files.newBufferedWriter(
          java.nio.file.Paths.get(dir, f"part-$part%05d.csv"), StandardCharsets.UTF_8)
        try {
          w.write(line(header))
          gs.sortBy(_._2).foreach { case (g, _) => g.foreach(row => w.write(line(row))) }
        } finally w.close()
      }
  }
}
