package graft.jobs

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

import graft.core.BufferingEmitter

/** The word-count tokenizer emits exactly the tokens of the regex split it
  * stands for (`strtok` over `" ,.\"'"`): every maximal run of
  * non-delimiter characters, in order, and no empty token.
  */
object WordCountProperties extends Properties("WordCount") {

  private val delimRun = Gen.choose(1, 3)
    .flatMap(Gen.listOfN(_, Gen.oneOf(' ', ',', '.', '"', '\'')))
    .map(_.mkString)
  private val wordChar = Gen.frequency(
    8 -> Gen.alphaChar,
    1 -> Gen.oneOf('-', '!', '\t', '’', 'é', 'ß', '中', 'Ж'))
  private val surrogatePair = Gen.oneOf("😀", "𝄞", "𠀋")
  private val word = Gen.nonEmptyListOf(Gen.frequency(
    10 -> wordChar.map(_.toString),
    1 -> surrogatePair,
    1 -> Gen.const("'"))).map(_.mkString) // an in-word apostrophe still splits
  private val line: Gen[String] = Gen.frequency(
    1 -> Gen.const(""),
    1 -> delimRun,
    8 -> Gen.listOf(Gen.oneOf(word, delimRun)).map(_.mkString))

  private def keys(s: String): Seq[String] = {
    val e = new BufferingEmitter
    WordCount.map(s, e)
    e.drain().map(_._1)
  }

  property("map emits exactly the regex split's non-empty tokens") = forAll(line) { s =>
    keys(s) == s.split("[ ,.\"']+").filter(_.nonEmpty).toSeq
  }
}
