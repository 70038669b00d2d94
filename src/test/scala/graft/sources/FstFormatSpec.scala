package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.fst.FstFormat
import graft.sources.fst.FstFormat.Meta

class FstFormatSpec extends AnyFunSuite {

  private val m = Meta("TT", "P", "R1_V710_N", 4, 3, 1, 0L,
    41394464, 12, 0, 300, 144, 5, 32, "Z", 33792, 77761, 1, 0,
    442998800L, 0, 0)

  test("directory entry pack/unpack round-trip") {
    val d = (0 until 12).map(_.toFloat).toArray
    val img = FstFormat.writeFile(Seq((m, d)))
    assert(FstFormat.maybeFst(img))
    val dir = FstFormat.readDirectory(img)
    assert(dir.size == 1)
    val got = dir.head
    assert(got.nomvar == "TT" && got.typvar == "P" &&
      got.etiket == "R1_V710_N")
    assert(got.ni == 4 && got.nj == 3 && got.nk == 1)
    assert(got.ip1 == m.ip1 && got.ip2 == 12 && got.ip3 == 0)
    assert(got.deet == 300 && got.npas == 144)
    assert(got.datyp == 5 && got.nbits == 32 && got.grtyp == "Z")
    assert(got.ig1 == 33792 && got.ig2 == 77761 && got.ig3 == 1 &&
      got.ig4 == 0)
    assert(got.datev == 442998800L)
    // dateo reconstructed: datev - deet*npas seconds (300*144 = 12 h)
    val expectDateo = graft.core.RmnDate.dateoFromDatev(442998800L, 300, 144)
    assert(got.dateo == expectDateo)
    assert(FstFormat.readPayload(img, got).sameElements(d))
  }

  test("out-of-range metadata fails loudly instead of truncating") {
    intercept[IllegalArgumentException] {
      FstFormat.packEntry(m.copy(deet = 1 << 24)) // 24-bit field
    }
    intercept[IllegalArgumentException] {
      FstFormat.packEntry(m.copy(npas = 1 << 26)) // 26-bit field
    }
    intercept[IllegalArgumentException] {
      FstFormat.packEntry(m.copy(ip1 = 1 << 28)) // 28-bit field
    }
    intercept[IllegalArgumentException] {
      FstFormat.packEntry(m.copy(nbits = 256)) // 8-bit field
    }
    // boundary values pack fine
    FstFormat.packEntry(m.copy(deet = (1 << 24) - 1,
      npas = (1 << 26) - 1, ip1 = (1 << 28) - 1, nbits = 255))
  }

  test("odd-length payload survives the 64-bit-word lng rounding") {
    val odd = m.copy(nomvar = "^^", ni = 1, nj = 3)
    val d = Array(45f, 46f, 47f)
    val img = FstFormat.writeFile(Seq((odd, d)))
    val got = FstFormat.readDirectory(img).head
    assert(FstFormat.readPayload(img, got).sameElements(d))
  }

  test("multiple records with alignment") {
    val recs = (0 until 5).map { i =>
      (m.copy(ip3 = i, ni = 1, nj = 3), Array(i.toFloat, 1f, 2f))
    }
    val img = FstFormat.writeFile(recs)
    val dir = FstFormat.readDirectory(img)
    assert(dir.map(_.ip3) == (0 until 5))
    dir.zipWithIndex.foreach { case (e, i) =>
      assert(FstFormat.readPayload(img, e).head == i.toFloat)
    }
  }

  test("non-FST bytes are rejected") {
    assert(!FstFormat.maybeFst(Array.fill[Byte](32)(7)))
    intercept[IllegalArgumentException] {
      FstFormat.readDirectory(Array.fill[Byte](32)(7))
    }
  }

  test("ig2 is split/reassembled across three directory words") {
    val big = m.copy(ig2 = 0xABCDEF, ni = 1, nj = 1)
    val img = FstFormat.writeFile(Seq((big, Array(1f))))
    assert(FstFormat.readDirectory(img).head.ig2 == 0xABCDEF)
  }

  test("directory entry pack/unpack round-trip on generated metas") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val charset = Gen.oneOf(('A' to 'Z') ++ ('0' to '9') :+ '_')
    def str(n: Int) = Gen.choose(1, n)
      .flatMap(len => Gen.listOfN(len, charset).map(_.mkString))
    val metaGen = for {
      nomvar <- str(4); typvar <- str(2); etiket <- str(12)
      ni <- Gen.choose(1, 1 << 20); nj <- Gen.choose(1, 1 << 20)
      nk <- Gen.choose(1, 1 << 10)
      ip1 <- Gen.choose(0, (1 << 28) - 1)
      ip2 <- Gen.choose(0, (1 << 28) - 1)
      ip3 <- Gen.choose(0, (1 << 28) - 1)
      deet <- Gen.choose(0, (1 << 24) - 1)
      npas <- Gen.choose(0, (1 << 24) - 1)
      datyp <- Gen.oneOf(0, 1, 2, 4, 5, 6, 130, 133, 134)
      nbits <- Gen.choose(1, 64)
      grtyp <- Gen.oneOf("A", "B", "E", "G", "L", "N", "X", "Y", "Z")
      ig1 <- Gen.choose(0, (1 << 22) - 1)
      ig2 <- Gen.choose(0, (1 << 22) - 1)
      ig3 <- Gen.choose(0, (1 << 22) - 1)
      ig4 <- Gen.choose(0, (1 << 22) - 1)
      // valid stamps: value 123200000 + 10*t1 + t2 (t2 < 8) like
      // real 5-second-tick CMC stamps
      t <- Gen.choose(0L, 400000000L)
    } yield FstFormat.Meta(nomvar, typvar, etiket, ni, nj, nk, 0L,
      ip1, ip2, ip3, deet, npas, datyp, nbits, grtyp, ig1, ig2, ig3,
      ig4, (t / 8) * 10 + (t % 8) + 123200000L, 0, 0)
    val metas = (0 until 300).flatMap(i =>
      metaGen.apply(Gen.Parameters.default, Seed(7L + i)))
    metas.foreach { meta =>
      val out = FstFormat.unpackEntry(FstFormat.packEntry(meta))
      assert(out.nomvar == meta.nomvar && out.typvar == meta.typvar
        && out.etiket == meta.etiket, s"names: $meta -> $out")
      assert(out.ni == meta.ni && out.nj == meta.nj && out.nk == meta.nk)
      assert(out.ip1 == meta.ip1 && out.ip2 == meta.ip2
        && out.ip3 == meta.ip3)
      assert(out.deet == meta.deet && out.npas == meta.npas)
      assert(out.datyp == meta.datyp && out.nbits == meta.nbits)
      assert(out.grtyp == meta.grtyp)
      assert(out.ig1 == meta.ig1 && out.ig2 == meta.ig2
        && out.ig3 == meta.ig3 && out.ig4 == meta.ig4)
      assert(out.datev == meta.datev, s"datev: $meta -> $out")
    }
  }

  test("in-place directory patch keeps payload address and words") {
    val img = FstFormat.writeFile(Seq(
      (m.copy(ni = 1, nj = 3), Array(7f, 8f, 9f)),
      (m.copy(ni = 1, nj = 2, ip3 = 1), Array(5f, 6f))))
    val before = img.clone()
    val entries = FstFormat.readDirectory(img)
    // fst_edit_dir-style metadata patch of record 1 (handle 1 << 10):
    // same addr/lng, new identity
    FstFormat.patchEntries(img, Seq((1 << 10) ->
      ((e: Meta) => e.copy(etiket = "UPDATED", ip2 = e.ip2 + 100))))
    val after = FstFormat.readDirectory(img)
    assert(after(0) == entries(0))
    assert(after(1).etiket == "UPDATED")
    assert(after(1).ip2 == entries(1).ip2 + 100)
    assert(after(1).addrWords == entries(1).addrWords)
    assert(FstFormat.readPayload(img, after(0)).toSeq == Seq(7f, 8f, 9f))
    assert(FstFormat.readPayload(img, after(1)).toSeq == Seq(5f, 6f))
    // only record 1's directory row changed
    val dirOffset = java.nio.ByteBuffer.wrap(img).getInt(20)
    val row1 = dirOffset + FstFormat.DirEntryBytes
    val changed = img.indices.filter(i => img(i) != before(i))
    assert(changed.nonEmpty &&
      changed.forall(i => i >= row1 && i < row1 + FstFormat.DirEntryBytes))
    intercept[IllegalArgumentException] {
      FstFormat.patchEntries(img, Seq((2 << 10) -> ((e: Meta) => e)))
    }
  }
}
