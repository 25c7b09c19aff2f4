package graft.pipeline

import scala.collection.mutable

import graft.SparkSpec

/** The distributed BPE trainer must produce EXACTLY the merge table of a
  * plain-Scala reference implementation over the same word-frequency
  * table — same pair counts, same (count desc, left, right) tie-break,
  * same left-to-right merge application. */
class BpeSpec extends SparkSpec {

  /** Reference BPE on a word-frequency map. */
  private def refBpe(freqs: Seq[(String, Long)], merges: Int): Seq[(Int, String, String, Long)] = {
    var seqs: Seq[(Vector[String], Long)] =
      freqs.map { case (w, f) => (w.map(_.toString).toVector, f) }
    val out = mutable.Buffer[(Int, String, String, Long)]()
    for (rank <- 1 to merges) {
      val counts = mutable.Map[(String, String), Long]().withDefaultValue(0L)
      for ((syms, f) <- seqs; i <- 0 until syms.length - 1)
        counts((syms(i), syms(i + 1))) += f
      if (counts.nonEmpty) {
        val ((l, r), c) = counts.minBy { case ((l, r), c) => (-c, l, r) }
        out += ((rank, l, r, c))
        seqs = seqs.map { case (syms, f) =>
          val res = mutable.Buffer[String]()
          for (s <- syms) {
            if (res.nonEmpty && res.last == l && s == r)
              res(res.length - 1) = l + r
            else res += s
          }
          (res.toVector, f)
        }
      }
    }
    out.toSeq
  }

  test("distributed merge table equals the plain-Scala reference") {
    val words = BpeTrainer.wordFreqs(spark, SF)
    val freqs = words.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(freqs.nonEmpty)
    val expect = refBpe(freqs, BpeTrainer.Merges)
    val got = BpeTrainer.train(words, BpeTrainer.Merges)
    assert(got === expect)
    // merges actually fuse multi-char symbols by the end
    assert(got.exists { case (_, l, r, _) => (l + r).length > 2 })
  }

  test("training leaves none of its checkpoints persisted") {
    val words = BpeTrainer.wordFreqs(spark, SF)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    assert(BpeTrainer.train(words, 5).size == 5)
    val left = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(left.isEmpty, s"RDDs left persisted: $left")
  }

  /** Fold-apply reference: the per-symbol left-to-right merge. */
  private def refTokenize(word: String, merges: Seq[(Int, String, String, Long)]): Vector[String] =
    merges.foldLeft(word.map(_.toString).toVector) { case (syms, (_, l, r, _)) =>
      val res = mutable.Buffer[String]()
      for (s <- syms) {
        if (res.nonEmpty && res.last == l && s == r)
          res(res.length - 1) = l + r
        else res += s
      }
      res.toVector
    }

  test("expression tokenization equals the fold-apply reference") {
    val words = BpeTrainer.wordFreqs(spark, SF)
    val merges = BpeTrainer.train(words, BpeTrainer.Merges)
    val wordRe = "^[a-z]+$".r
    val docs = spark.read.parquet(s"$SF/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    val got = BpeTrainer.tBpeApply(spark, SF).collect()
    assert(got.length === docs.size)
    for (r <- got) {
      val (docId, nWords, nTokens, firstToks) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))
      val ws = docs(docId).split(" ", -1)
      assert(nWords === ws.length)
      val expTokens = ws.map(w =>
        if (wordRe.findFirstIn(w).isDefined) refTokenize(w, merges).length else 1)
        .map(_.toLong).sum
      assert(nTokens === expTokens, s"doc $docId")
      val expFirst =
        if (wordRe.findFirstIn(ws.head).isDefined)
          refTokenize(ws.head, merges).mkString("|")
        else "<oov>"
      assert(firstToks === expFirst, s"doc $docId first word")
    }
  }

  test("tokenize-and-pack equals the composed replicas") {
    val words = BpeTrainer.wordFreqs(spark, SF)
    val merges = BpeTrainer.train(words)
    val wordRe = "^[a-z]+$".r
    val docs = spark.read.parquet(s"$SF/documents.parquet")
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val expect = docs
      .map { case (id, src, text) =>
        val n = text.split(" ", -1).map(w =>
          if (wordRe.findFirstIn(w).isDefined) refTokenize(w, merges).length.toLong
          else 1L).sum
        (src, md5hex(text), id, n)
      }
      .groupBy(_._1).toSeq.flatMap { case (src, ds) =>
        var bin = 0L; var fill = 0L
        ds.sortBy(d => (d._2, d._3)).map { case (_, _, id, n) =>
          if (fill > 0 && fill + n > PackQueries.PackCap) { bin += 1; fill = 0 }
          val slot = (id, src, bin, fill, n)
          fill += n
          slot
        }
      }.toSet
    val got = BpeTrainer.dTokenizePack(spark, SF).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(got === expect)
    // bins are genuinely multi-doc and respect the cap
    assert(got.exists(_._3 > 0))
    assert(got.groupBy(s => (s._2, s._3))
      .forall { case (_, slots) =>
        val tot = slots.toSeq.map(_._5).sum
        tot <= PackQueries.PackCap || slots.size == 1
      })
  }
}
