package graft.functions

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Properties}

/**
 * [[TextHashes.charGrams]] against the per-gram `UTF8String.substring` form
 * it replaces, on text mixing ASCII, multi-byte and astral code points and
 * bytes that are not valid UTF-8.
 */
object CharGramsProps extends Properties("CharGrams") {

  private def bySubstring(s: UTF8String, n: Int): Seq[UTF8String] =
    (0 until math.max(0, s.numChars() - n + 1)).map(i => s.substring(i, i + n))

  private def grams(s: UTF8String, n: Int): Seq[Any] =
    TextHashes.charGrams(s, n).array.toSeq

  // an invalid piece is a lead byte followed by exactly as many bytes as
  // numBytesForFirstByte claims for it, so no sequence runs past the end
  private val invalid: Gen[Array[Byte]] = for {
    lead <- Gen.oneOf(0x80, 0xBF, 0xC0, 0xC3, 0xE2, 0xED, 0xF0, 0xF4, 0xF8, 0xFF)
    fill <- Gen.listOfN(3, Gen.oneOf(0x41, 0x80, 0xA9, 0xFF))
  } yield {
    val b = lead.toByte
    b +: fill.take(UTF8String.numBytesForFirstByte(b) - 1).map(_.toByte).toArray
  }

  private val piece: Gen[Array[Byte]] = Gen.frequency(
    5 -> Gen.alphaNumChar.map(c => Array(c.toByte)),
    2 -> Gen.oneOf("é", "中", "😀", "𝄞", " ").map(_.getBytes(UTF_8)),
    2 -> invalid)

  // half the strings view the middle of a larger array, as column values do
  private val text: Gen[UTF8String] = for {
    ps <- Gen.listOf(piece)
    view <- Gen.oneOf(true, false)
  } yield {
    val bytes = ps.toArray.flatten
    if (!view) UTF8String.fromBytes(bytes)
    else UTF8String.fromBytes(Array[Byte](1, 2) ++ bytes ++ Array[Byte](3), 2, bytes.length)
  }

  property("charGrams == substring grams") =
    Prop.forAll(text, Gen.choose(0, 7)) { (s, n) => grams(s, n) == bySubstring(s, n) }

  property("the empty string and n > numChars give no grams") =
    Prop.forAll(text, Gen.choose(1, 5)) { (s, extra) =>
      grams(UTF8String.EMPTY_UTF8, 1).isEmpty && grams(s, s.numChars() + extra).isEmpty
    }

  property("a truncated sequence at the end is cut at the last byte") =
    Prop.forAll(Gen.alphaNumStr) { a =>
      val s = UTF8String.fromBytes(a.getBytes(UTF_8) :+ 0xF0.toByte)
      grams(s, 1).last == UTF8String.fromBytes(Array(0xF0.toByte)) &&
        grams(s, 1).size == a.length + 1
    }
}
