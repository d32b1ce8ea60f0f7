package graft.core

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.util.Random

/** Hermetic stand-ins for the reference's demo fixtures (FIXTURES.md §A), so
  * the MapReduce-parity suites check the same contract on every host.
  */
object MrFixture {

  /** §A.1's `config.ini` (7 keys, the demo values), a committed test resource. */
  lazy val config: String =
    Paths.get(getClass.getResource("/reference/config.ini").toURI).toString

  /** §A.2 gives each Alice file as 2,382,000 bytes; at this size every spec
    * cuts the inputs into as many `map_kilobytes` shards as that corpus would.
    */
  val InputBytes = 2382000

  /** Two newline-delimited, prose-like ASCII files of [[InputBytes]] each,
    * written once per JVM to a temp dir that is deleted at exit. A fixed seed
    * makes every run write the same bytes. The text uses every delimiter of
    * the tokenizer `[ ,."']+` — in runs, as leading and trailing quotes and as
    * in-word apostrophes — plus mixed case, non-delimiter punctuation that
    * stays inside tokens, and blank lines.
    */
  lazy val inputs: Seq[String] = {
    val dir = Files.createTempDirectory("graft-mr-fixture")
    dir.toFile.deleteOnExit() // deleteOnExit runs in reverse: files, then dir
    Seq(1, 2).map { i =>
      val f = dir.resolve(s"input$i.txt")
      Files.write(f, prose(new Random(6210L + i)).getBytes(StandardCharsets.US_ASCII))
      f.toFile.deleteOnExit()
      f.toString
    }
  }

  private val vocab: Vector[String] = {
    val common = Vector("the", "and", "to", "a", "she", "it", "of", "said", "Alice",
      "I", "you", "was", "in", "that", "as", "her", "at", "on", "with", "had", "but",
      "very", "little", "Queen", "King", "Hatter", "Rabbit", "Dormouse", "Gryphon",
      "Mock", "Turtle", "don't", "Alice's", "it's", "I'm", "can't", "won't", "I'll",
      "that's", "wouldn't", "THE", "DRINK", "ME", "Oh", "Who", "Why", "curious")
    val rng = new Random(6210L)
    val syllables = Vector("al", "an", "ar", "be", "ca", "de", "el", "en", "er", "ho",
      "in", "la", "le", "ma", "ne", "on", "or", "ou", "ra", "re", "st", "th", "ti", "wh")
    val made = Vector.fill(4000) {
      val w = Vector.fill(1 + rng.nextInt(4))(syllables(rng.nextInt(syllables.size))).mkString
      rng.nextInt(10) match { case 0 => w + "'s"; case 1 => w.capitalize; case _ => w }
    }
    common ++ made
  }
  private val openings = Vector("", "", "", "\"", "'", "  ")
  private val separators = Vector(" ", " ", " ", " ", " ", " ", ", ", ". ", " \"",
    "\" ", " '", "' ", ",\" ", ".' \"", "--", "; ", "! ", "? ", "  ")
  private val endings = Vector("", ".", ",", ".\"", "!'", "'", "\"", " ", ",\"", "?'", ":")

  private def prose(rng: Random): String = {
    val sb = new StringBuilder(InputBytes + 256)
    while (sb.length < InputBytes) {
      if (rng.nextInt(8) > 0) {
        sb ++= openings(rng.nextInt(openings.size))
        val n = 6 + rng.nextInt(9)
        for (j <- 0 until n) {
          // nested uniform draws skew toward low ranks, like a word-frequency tail
          val w = vocab(rng.nextInt(rng.nextInt(rng.nextInt(vocab.size) + 1) + 1))
          sb ++= (if (j == 0 || rng.nextInt(12) == 0) w.capitalize else w)
          sb ++= (if (j < n - 1) separators(rng.nextInt(separators.size))
                  else endings(rng.nextInt(endings.size)))
        }
      }
      sb += '\n'
    }
    sb.toString
  }
}
