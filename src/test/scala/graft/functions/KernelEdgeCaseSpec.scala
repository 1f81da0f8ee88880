package graft.functions

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Adversarial-input bit-identity pins for the hand-written kernels: the
  * kernels iterate raw chars/bytes/code points, so the places they could
  * silently diverge from the Spark-builtin formulations the DuckDB
  * oracles replay are exactly non-ASCII and odd-whitespace inputs —
  * surrogate pairs (emoji), CJK, tabs/newlines (NOT token separators by
  * the battery's space-only rule), runs of spaces, and empty/one-token
  * edge documents.
  */
class KernelEdgeCaseSpec extends SparkSuite {
  import spark.implicits._

  private val tricky = Seq(
    "",
    " ",
    "   ",
    "one",
    "a b",
    "a  b   c",
    " leading and trailing ",
    "tab\tis not\ta separator",
    "newline\nstays inside token",
    "中文 分词 测试 中文",
    "emoji 😀😀 pair 😀 mixed中文😀end",
    "𝕊𝕦𝕣𝕣𝕠𝕘𝕒𝕥𝕖 𝕡𝕒𝕚𝕣𝕤 everywhere 𝕏",
    "punct. mix! ok? a,b;c: d",
    "digits 123 mix4you 5,6.7",
    "the a of and to in is the the",
    "der und die das ist",
    "x y z w v u t s r q p o n m l k j i h g")

  private val docs = tricky.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")

  private val toksCol = filter(split(col("text"), " "), t => t =!= "")

  test("TextProfile fields equal the builtin formulations on adversarial input") {
    val viaKernel = docs
      .select(col("doc_id"), TextProfile.profile(col("text")).as("p"))
      .select(
        col("doc_id"),
        col("p.len"),
        col("p.n_tokens"),
        col("p.sum_tok_len"),
        col("p.n_distinct"),
        col("p.n_stop"),
        col("p.n_punct"),
        col("p.s_zh"),
        col("p.n_bpe"))
      .orderBy("doc_id")
      .collect()
    val viaBuiltins = docs
      .select(
        col("doc_id"),
        length(col("text")).as("len"),
        size(toksCol).as("n_tokens"),
        coalesce(
          aggregate(transform(toksCol, x => length(x)), lit(0), (a, x) => a + x),
          lit(0)).as("sum_tok_len"),
        size(array_distinct(toksCol)).as("n_distinct"),
        size(filter(toksCol, x =>
          array_contains(typedlit(Seq("the", "a", "of", "and", "to", "in", "is")), x)))
          .as("n_stop"),
        (length(col("text")) - length(regexp_replace(col("text"), "[.!?,;:]", ""))).as("n_punct"),
        size(regexp_extract_all(col("text"), lit("[\\x{4e00}-\\x{9fff}]"), lit(0))).as("s_zh"),
        size(regexp_extract_all(col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))
          .as("n_bpe"))
      .orderBy("doc_id")
      .collect()
    viaKernel.zip(viaBuiltins).foreach { case (k, b) =>
      assert(k == b, s"doc ${k.getLong(0)}: kernel $k vs builtins $b")
    }
  }

  test("Shingles3 equals the HOF shingle construction on adversarial input") {
    val viaKernel = docs
      .select(col("doc_id"), Shingles3.of(col("text")).as("sh"))
      .select(col("doc_id"), array_sort(col("sh")).as("sh"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1))
      .toMap
    val viaHof = docs
      .select(
        col("doc_id"),
        array_sort(
          array_distinct(
            when(
              size(toksCol) >= 3,
              transform(
                sequence(lit(0), size(toksCol) - 3),
                i =>
                  concat_ws(
                    " ",
                    element_at(toksCol, i + 1),
                    element_at(toksCol, i + 2),
                    element_at(toksCol, i + 3))))
              .otherwise(array().cast("array<string>")))).as("sh"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1))
      .toMap
    viaHof.foreach { case (id, sh) => assert(viaKernel(id) == sh, s"doc $id") }
  }

  test("TextFingerprint equals the SQL lambda formulation on adversarial input") {
    docs.createOrReplaceTempView("edge_docs")
    val viaSql = spark
      .sql("""SELECT doc_id,
             |  CASE WHEN size(th) >= 4 THEN
             |    array_min(transform(sequence(1, size(th) - 3), j ->
             |      (element_at(th, j) * 31957 + element_at(th, j + 1) * 1031 +
             |       element_at(th, j + 2) * 97 + element_at(th, j + 3)) % 1000000007))
             |  ELSE NULL END AS fp
             |FROM (
             |  SELECT doc_id,
             |    transform(filter(split(text, ' '), t -> t != ''), t ->
             |      aggregate(sequence(1, length(t)),
             |        CAST(0 AS BIGINT),
             |        (acc, i) -> (acc * 31 + ascii(substring(t, i, 1))) % 1000000007)) AS th
             |  FROM edge_docs)""".stripMargin)
      .collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getLong(1)))
      .toMap
    val viaKernel = docs
      .select(col("doc_id"), TextFingerprint.of(col("text")).as("fp"))
      .collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getLong(1)))
      .toMap
    viaSql.foreach { case (id, fp) => assert(viaKernel(id) == fp, s"doc $id") }
  }

  test("SimHash64 and MinHash16 handle empty/short docs without degenerate output") {
    val sh = docs.select(col("doc_id"), SimHash64.of(col("text")).as("s")).collect()
    assert(sh.length == tricky.length) // total: every doc gets a signature
    val mh = docs
      .select(col("doc_id"), MinHash16.of(col("text")).as("m"))
      .collect()
    mh.foreach { r =>
      val nToks = tricky(r.getLong(0).toInt).split(" ").count(_.nonEmpty)
      if (nToks < 3) assert(r.isNullAt(1), s"doc ${r.getLong(0)} should have NULL minhash")
      else assert(r.getSeq[Long](1).length == 16)
    }
  }

  test("TokenWindows equals the HOF window construction on adversarial input") {
    val k = 3
    val viaKernel = docs
      .select(col("doc_id"), TokenWindows.of(col("text"), k).as("w"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1))
      .toMap
    // positional (NOT deduplicated) k-windows via builtins
    val viaHof = docs
      .select(
        col("doc_id"),
        when(
          size(toksCol) >= k,
          transform(
            sequence(lit(0), size(toksCol) - k),
            i =>
              concat_ws(
                " ",
                element_at(toksCol, i + 1),
                element_at(toksCol, i + 2),
                element_at(toksCol, i + 3))))
          .otherwise(array().cast("array<string>")).as("w"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1))
      .toMap
    viaHof.foreach { case (id, w) => assert(viaKernel(id) == w, s"doc $id") }
  }

  test("DeflateLen equals an independent Deflater run; orders by redundancy") {
    val viaKernel = docs
      .select(col("doc_id"), DeflateLen.of(col("text")).as("z"))
      .collect()
      .map(r => r.getLong(0) -> r.getInt(1))
      .toMap
    tricky.zipWithIndex.foreach { case (t, i) =>
      // reference computation: fresh Deflater, same parameters
      val d = new java.util.zip.Deflater(6, true)
      d.setInput(t.getBytes("UTF-8"))
      d.finish()
      val buf = new Array[Byte](1 << 16)
      var total = 0
      while (!d.finished()) total += d.deflate(buf)
      d.end()
      assert(viaKernel(i.toLong) == total, s"doc $i: '$t'")
    }
    // the signal: heavy repetition compresses far below varied text of
    // the same length
    val rep = "spam ham " * 200
    val varied = (1 to 400).map(i => (i * 2654435761L).toHexString).mkString(" ").take(rep.length)
    val z = Seq((0L, rep), (1L, varied))
      .toDF("doc_id", "text")
      .select(DeflateLen.of(col("text")).as("z"))
      .collect()
      .map(_.getInt(0))
    assert(z(0) * 5 < z(1), s"repetitive ${z(0)} vs varied ${z(1)}")
  }

  test("ScaledLong equals builtin round(x*grain)::long on ties, negatives, and fixture bounds") {
    // the allocation-free quantizer must be value-identical to the
    // BigDecimal-backed builtin it replaced in Tables.fsum — including
    // exact .5 ties (HALF_UP = away from zero on both paths) and values
    // just below/above tie boundaries in binary
    val xs = Seq(
      0.0, 1.0, -1.0, 0.5, -0.5, 1.5, -1.5, 2.5, -2.5,
      0.4999999999999999, 0.5000000000000001, -0.4999999999999999,
      0.005, -0.005, 0.015, 0.025, 123.456789, -123.456789,
      105000.12345, -105000.12345, 560.21, 1.0e-12, -1.0e-12,
      49.999999, 0.1 + 0.2)
    // grains paired with the largest fixture-bound addend each carries
    // (see corrMatrixGrains): the x·grain products stay inside BIGINT,
    // as in production — at larger products the builtin reference side
    // itself overflows the ANSI cast
    val byGrain = Seq(
      1e2 -> (xs :+ 1.2099999999999e10), // price² bound at the pp grain
      1e4 -> xs,
      1e6 -> xs,
      1e9 -> xs)
    byGrain.foreach { case (g, vals) =>
      vals.toDF("x").select(
        col("x"),
        ScaledLong.of(col("x"), g).as("k"),
        round(col("x") * g).cast("long").as("r"))
        .collect()
        .foreach { r =>
          assert(r.getLong(1) == r.getLong(2), s"x=${r.getDouble(0)} grain=$g")
        }
    }
    // non-finite saturation (the SQL surface can feed these; the builtin
    // reference THROWS under ANSI, so the kernel defines its own
    // long-cast-convention behavior and we pin it directly)
    assert(ScaledLong.scaledLong(Double.PositiveInfinity, 1e6) == Long.MaxValue)
    assert(ScaledLong.scaledLong(Double.NegativeInfinity, 1e6) == Long.MinValue)
    assert(ScaledLong.scaledLong(Double.NaN, 1e6) == 0L)
  }

  test("ScaledDot argmin keys keep their order just inside the bound") {
    // the LlmOps.assignCodes key |c|²_raw − 2·dotRaw(v, c) at |⟨v,c⟩|
    // up to 4.506e6, just inside the ~4.6e6 bound documented on
    // ScaledDot.dotRaw. Integer-valued floats keep every product exact,
    // so the key must equal the exact value and pick the exact nearest
    // candidate (which here is not the one with the largest dot).
    val v = Seq(3000f, 0f)
    val cands = Seq(
      1 -> Seq(1500f, 0f),
      2 -> Seq(1499f, 1f),
      3 -> Seq(1501f, -1f),
      4 -> Seq(1502f, 30f))
    def dot(a: Seq[Float], b: Seq[Float]): BigInt =
      a.zip(b).map { case (x, y) => BigInt(x.toLong) * BigInt(y.toLong) }.sum
    assert(cands.map(c => dot(v, c._2)).max == BigInt(4506000))
    val keyed = cands
      .map { case (cid, c) => (cid, v, c) }
      .toDF("cid", "v", "c")
      .select(
        col("cid"),
        (ScaledDot.dotRaw(col("c"), col("c")) - lit(2L) * ScaledDot.dotRaw(col("v"), col("c")))
          .as("key"))
    val keys = keyed.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    cands.foreach { case (cid, c) =>
      assert(BigInt(keys(cid)) == (dot(c, c) - 2 * dot(v, c)) * BigInt(10).pow(12), s"cid $cid")
    }
    val nearest = cands.minBy { case (cid, c) =>
      (dot(v, v) + dot(c, c) - 2 * dot(v, c), cid)
    }._1
    assert(nearest == 4)
    val argmin = keyed.agg(min_by(col("cid"), struct(col("key"), col("cid")))).head().getInt(0)
    assert(argmin == nearest)
  }

  test("Shingles3Hashed equals md5-hash64 over Shingles3's strings on tricky corpus") {
    // pins the hashed kernel to the string kernel + the portable hash —
    // the dedup family's oracle parity rests on exactly this equivalence
    val rows = docs
      .select(
        col("doc_id"),
        Shingles3.of(col("text")).as("sh"),
        Shingles3Hashed.of(col("text")).as("hs"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val strs = r.getSeq[String](1)
      val got = r.getSeq[Long](2)
      val want = strs.map { s =>
        val b = s.getBytes("UTF-8")
        SimHash64.md5Hash64(b, 0, b.length)
      }.distinct
      assert(got == want, s"doc ${r.getLong(0)}")
    }
  }
}
