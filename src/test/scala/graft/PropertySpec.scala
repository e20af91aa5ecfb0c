package graft

import org.scalacheck.{Gen => SGen, Prop, Properties}
import org.scalacheck.Prop.{forAll, propBoolean}
import graft.kernel.{Charset, Extract, Lang, Magic}

/** Property-based invariants (SURVEY.md §5.2.3):
  *  - truncation prefix: extract(d, n) isPrefixOf extract(d, -1), len <= n
  *    (mirrors document_processing_spec.rb:88-104)
  *  - detector totality: every byte string gets a content type
  *  - charset totality + decode stability
  *  - blocksOf reconstruction
  *  - language detector totality
  *  - metadata key sort idempotence (O1)
  */
object PropertySpec extends Properties("graft.kernel") {

  val byteArrays: SGen[Array[Byte]] =
    SGen.listOf(SGen.choose(Byte.MinValue, Byte.MaxValue)).map(_.toArray)

  property("detector totality") = forAll(byteArrays) { bytes =>
    Magic.contentTypeOf(Magic.sniff(bytes), None).nonEmpty
  }

  property("charset totality") = forAll(byteArrays) { bytes =>
    val d = Charset.detect(bytes)
    Set("UTF-8", "UTF-16LE", "UTF-16BE", "ISO-8859-1").contains(d.name) &&
      d.decoded != null
  }

  property("truncation prefix invariant") =
    forAll(SGen.alphaNumStr, SGen.choose(0, 64)) { (text, n) =>
      text.nonEmpty ==> {
        val full = Extract.extractText("txt", text, Extract.Options(-1))
        val cut = Extract.extractText("txt", text, Extract.Options(n))
        full.content.startsWith(cut.content) && cut.content.length <= n
      }
    }

  property("blocksOf reconstructs blank-line-separated parts") =
    forAll(SGen.listOf(SGen.alphaNumStr)) { parts =>
      val cleaned = parts.map(_.replace("\n", " ")).filter(_.exists(!_.isWhitespace))
      Extract.blocksOf(cleaned.mkString("\n\n")) == cleaned.toVector
    }

  property("language detector totality") = forAll { (s: String) =>
    Set("en", "de", "fr", "es", "ru", "pt", "it", "nl", "zh", "ja", "ko", "ar",
      "und").contains(Lang.detect(s))
  }

  property("metadata key sort idempotent + case-insensitive") =
    forAll(SGen.listOf(SGen.alphaNumStr)) { keys =>
      def sort(ks: Seq[String]) = Extract.sortedByKey(ks.map(_ -> "")).map(_._1)
      val sorted = sort(keys)
      sort(sorted) == sorted &&
        sorted.map(_.toLowerCase) == sorted.map(_.toLowerCase).sorted
    }

  property("pipeline determinism: Gen.build pure in (seed, index)") =
    forAll(SGen.choose(0L, 5000L)) { i =>
      graft.corpus.Gen.build(42L, i) == graft.corpus.Gen.build(42L, i)
    }

  property("extractBytes never throws (failure taxonomy catches)") =
    forAll(byteArrays) { bytes =>
      val out = Extract.extractBytes("any", bytes, Extract.Options(64))
      out.contentType.nonEmpty
    }
}
