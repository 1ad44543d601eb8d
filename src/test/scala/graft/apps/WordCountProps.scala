package graft.apps

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

/** `WordCount.words` against the regex tokenizer it replaces, on strings
  * that mix letter case, digits and punctuation with characters whose
  * upper case is not one ASCII letter (or is one only through the JDK's
  * case mapping).
  */
object WordCountProps extends Properties("WordCount") {

  private def reference(line: String): List[String] =
    line.toUpperCase.split("[^A-Z]+").iterator
      .filter(_.length >= WordCount.MinLetters).toList

  private val ascii: Gen[Char] = Gen.frequency(
    8 -> Gen.alphaLowerChar, 4 -> Gen.alphaUpperChar, 1 -> Gen.numChar,
    1 -> Gen.oneOf(" ,.;:-!?'\"\t_@[]`{}~\u007f\u0000".toSeq))

  private val special: Gen[Char] = Gen.oneOf('ß', 'ı', 'ſ', 'ﬀ', 'é', 'İ')

  private def line(chars: Gen[Char]): Gen[String] =
    Gen.choose(0, 80).flatMap(Gen.stringOfN(_, chars))

  property("ASCII lines: words == toUpperCase.split") =
    forAll(line(ascii))(s => WordCount.words(s).toList == reference(s))

  property("mixed lines: words == toUpperCase.split") =
    forAll(line(Gen.frequency(12 -> ascii, 1 -> special))) { s =>
      WordCount.words(s).toList == reference(s)
    }
}
