package graft.streaming

import graft.SparkSpec

/** The marker format is load-bearing: stored codes decode only against
  * the model that encoded them, so a marker written by an earlier build
  * must read back as the same model. The fixtures under
  * `src/test/resources/markers` were written by the per-store code that
  * the shared codec layer replaced, from [[corpus]]: each must parse and
  * re-render to identical bytes, and a fit on the same corpus must
  * reproduce it. */
class MarkerFormatSpec extends SparkSpec {

  private def fixture(name: String): Array[Byte] = {
    val in = getClass.getResourceAsStream(s"/markers/$name")
    try in.readAllBytes() finally in.close()
  }

  private def text(name: String): String = new String(fixture(name), "UTF-8")

  /** 96 dim-8 vectors around four well-separated centres. */
  private def corpus = {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    (0 until 96).map { i =>
      (i.toLong, Array.tabulate(8)(d =>
        ((if (d % 4 == i % 4) 3.0 else 0.0) + rnd.nextGaussian() * 0.3).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
  }

  private val codecs = Seq("_ANN" -> LshCodec, "_IVF" -> IvfCodec, "_IVFSQ" -> SqCodec,
    "_IVFPQ" -> PqCodec, "_IVF.pending" -> IvfCodec)

  for ((name, codec) <- codecs)
    test(s"$name parses and re-renders byte-for-byte") {
      val bytes = fixture(name)
      assert(codec.parse(new String(bytes, "UTF-8")).render.getBytes("UTF-8").sameElements(bytes))
    }

  test("parsed markers carry the pinned config, model rows and drift anchors") {
    val ann = LshCodec.parse(text("_ANN"))
    assert(ann.config == Seq(8L, 4L, 7L, 2L) && ann.rows.isEmpty && ann.baseline.isEmpty)
    val ivf = IvfCodec.parse(text("_IVF"))
    assert(ivf.config == Seq(8L, 4L, 13L) && ivf.target.isEmpty)
    assert(ivf.rowsOf("").length == 4 && ivf.rowsOf("").forall(_.length == 8))
    assert(ivf.baseline.exists(_ > 0) && ivf.occ.exists(o => math.abs(o.sum - 1.0) < 1e-9))
    val pending = IvfCodec.parse(text("_IVF.pending"))
    assert(pending.target.exists(_.startsWith("batch=refit-")))
    assert(pending.copy(target = None).render == text("_IVF.pending").split('\n').toSeq
      .updated(0, "8/4/13").mkString("\n"))
    val sq = SqCodec.parse(text("_IVFSQ"))
    assert(sq.config == Seq(8L, 4L, 41L) && sq.rowsOf("coarse").length == 4)
    assert(sq.rowsOf("vmin").map(_.length).toSeq == Seq(8) &&
      sq.rowsOf("vstep").map(_.length).toSeq == Seq(8))
    val pq = PqCodec.parse(text("_IVFPQ"))
    assert(pq.config == Seq(8L, 4L, 2L, 37L) && pq.rowsOf("coarse").length == 4)
    assert(Seq("cb0", "cb1").forall { cb =>
      val words = pq.rowsOf(cb)
      words.nonEmpty && words.length <= 16 && words.forall(_.length == 4)
    })
    assert(pq.rows.map(_._1).distinct == Seq("coarse", "cb0", "cb1"), "file order kept")
  }

  test("a fit on the fixture corpus reproduces each marker byte-for-byte") {
    val df = corpus
    val tmp = java.nio.file.Files.createTempDirectory("markers").toString
    AnnStream.upsertStep(df, s"$tmp/ann", dim = 8, planes = 4, seed = 7L, tables = 2)
    IvfStream.upsertStep(df, s"$tmp/ivf", dim = 8, nlist = 4, seed = 13L)
    IvfSqStream.upsertStep(df, s"$tmp/sq", dim = 8, nlist = 4, seed = 41L)
    IvfPqStream.upsertStep(df, s"$tmp/pq", dim = 8, nlist = 4, m = 2, seed = 37L)
    for ((store, name) <- Seq("ann" -> "_ANN", "ivf" -> "_IVF", "sq" -> "_IVFSQ", "pq" -> "_IVFPQ"))
      assert(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$tmp/$store/$name"))
        .sameElements(fixture(name)), name)
  }
}
