package perfbench

import java.nio.file.{Files, Path, Paths}

/** Generator determinism checks, run by `perfbench/test.py`: the same seed
  * gives byte-identical DN logs, wave files, expected checksums and corpus
  * rows; a different seed gives different ones. Needs no Spark session.
  *
  *     perfbench.SelfTest <work dir>
  */
object SelfTest {
  private def digest(dir: Path): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val files = Files.walk(dir).toArray.map(_.asInstanceOf[Path])
      .filter(Files.isRegularFile(_)).sortBy(_.toString)
    files.foreach { f =>
      md.update(dir.relativize(f).toString.getBytes("UTF-8"))
      md.update(Files.readAllBytes(f))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  def main(args: Array[String]): Unit = {
    val work = Paths.get(args(0))
    var failures = 0
    def expect(ok: Boolean, what: String): Unit = {
      println(s"${if (ok) "ok" else "FAIL"} $what")
      if (!ok) failures += 1
    }

    def drain(seed: Long, tag: String): String = {
      val root = work.resolve(s"drain-$tag")
      BinlogDrain.writeDnLogs(root.toString,
        BinlogDrain.backlog(seed, BinlogDrain.shape(tiny = false)))
      digest(root)
    }
    val d1 = drain(1L, "a")
    expect(d1 == drain(1L, "b"), "drain: same seed, identical DN logs")
    expect(d1 != drain(2L, "c"), "drain: other seed, different DN logs")

    def waves(seed: Long, tag: String): (String, Seq[Map[String, Option[Long]]]) = {
      val root = work.resolve(s"waves-$tag")
      val ws = ReplicaApply.generate(seed,
        ReplicaApply.shape(tiny = false, seconds = 20), root.toString)
      (digest(root), ws.map(_.expected))
    }
    val w1 = waves(1L, "a")
    expect(w1 == waves(1L, "b"),
      "replica: same seed, identical wave files and expected checksums")
    val w2 = waves(2L, "c")
    expect(w1._1 != w2._1 && w1._2 != w2._2,
      "replica: other seed, different wave files and expected checksums")

    val s = CurationBatch.shape(tiny = false)
    def corpus(seed: Long) = (CurationBatch.documents(seed, s),
      CurationBatch.embeddings(seed, s).map { case (i, v, l) => (i, v.toSeq, l) })
    val c1 = corpus(1L)
    expect(c1 == corpus(1L), "curation: same seed, identical corpus")
    expect(c1._1 != corpus(2L)._1 && c1._2 != corpus(2L)._2,
      "curation: other seed, different corpus")

    if (failures > 0) sys.exit(1)
  }
}
