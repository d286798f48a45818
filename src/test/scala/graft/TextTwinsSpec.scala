package graft

import org.scalatest.funsuite.AnyFunSuite

/** The text pieces are written once, each beside its DuckDB twin: the
  * tokenizer and the word n-grams in `operators/Text`, the char
  * PolyHash fold beside its kernel in `functions/PolyHash`. Each single
  * site is also the one a native kernel replaces.
  */
class TextTwinsSpec extends AnyFunSuite {

  test("the coalesced tokenizer and the word n-grams are written once, in operators/Text") {
    SourceAudit.writtenOnce("operators/Text.scala",
      "Spark coalesced split" -> """(?<!string_)split\(coalesce\(""".r,
      "DuckDB coalesced split" -> """string_split\(coalesce\(""".r,
      "Spark n-gram window" -> """concat_ws\(' ', slice\(\$?\w+, i \+ 1""".r,
      "DuckDB n-gram window" -> """array_to_string\(list_slice\(tk, i \+ 1""".r)
  }

  test("the char PolyHash fold is written once, beside PolyHash31") {
    SourceAudit.writtenOnce("functions/PolyHash.scala",
      "31-fold step" -> """\(h, c\) -> \(h \* 31 \+ c\)""".r,
      "DuckDB code point list" -> """CAST\(ascii\(substring\(""".r)
  }
}
