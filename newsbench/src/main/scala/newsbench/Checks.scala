package newsbench

/** Output checks. Each returns its complaints; empty means correct. */
object Checks {
  val VerdictClasses: Seq[String] = Seq("rejected", "duplicate", "semantic_duplicate", "admitted")

  /**
   * Admission verdicts for one batch, given the texts the fingerprint
   * store held before it (`stored`: the seed corpus plus every doc
   * admitted so far):
   *  - every doc has a verdict;
   *  - a doc whose text is stored gets `duplicate`, unless curation
   *    rejected it;
   *  - a doc whose text is not stored never gets `duplicate`;
   *  - all four verdict classes occur, so a degenerate mix fails.
   */
  def verdicts(batch: Seq[Doc], got: Map[Long, String], stored: collection.Set[String]): Seq[String] = {
    val missing = batch.filterNot(d => got.contains(d.id)).map(d => s"doc ${d.id} has no verdict")
    val wrong = batch.flatMap { d =>
      got.get(d.id).toSeq.flatMap { v =>
        if (stored(d.text) && v != "duplicate" && v != "rejected")
          Seq(s"doc ${d.id} (${d.kind} of ${d.source}) repeats stored text but got $v")
        else if (!stored(d.text) && v == "duplicate")
          Seq(s"doc ${d.id} (${d.kind}) is first-seen text but got duplicate")
        else Nil
      }
    }
    val seen = got.values.toSet
    val absent = VerdictClasses.filterNot(seen).map(c => s"no doc got verdict $c")
    missing ++ wrong ++ absent
  }

  /** Every admitted link is in the articles table with a story id. */
  def landed(links: Seq[String], stories: Map[String, String]): Seq[String] =
    links.flatMap { l =>
      stories.get(l) match {
        case None => Seq(s"admitted $l missing from the articles table")
        case Some(null) => Seq(s"admitted $l has no story id")
        case _ => Nil
      }
    }

  /** A recommendations lookup: at most `topN` rows, every story known. */
  def recs(rows: Seq[(String, Double)], topN: Int, stories: collection.Set[String]): Seq[String] =
    (if (rows.size > topN) Seq(s"${rows.size} rows > topN $topN") else Nil) ++
      rows.map(_._1).filterNot(stories).map(id => s"unknown story $id")

  /** A story lookup: one row for a known id, none for an unknown one. */
  def story(id: String, rows: Int, exists: Boolean): Seq[String] = {
    val want = if (exists) 1 else 0
    if (rows != want) Seq(s"story $id returned $rows rows, want $want") else Nil
  }

  /** A single-query hybrid search returns exactly k rows. */
  def search(rows: Int, k: Int): Seq[String] =
    if (rows != k) Seq(s"search returned $rows rows, want $k") else Nil

  /** A read after an upsert sees the new version's scores. */
  def upserted(user: String, want: Map[String, Double], got: Map[String, Double]): Seq[String] =
    if (got != want) Seq(s"read after upsert for $user saw ${got.size} rows differing from the ${want.size} written")
    else Nil

  /**
   * The `pipe_hybrid_e2e` serving contract on a batch of recommendations
   * (user, story, score, rank): every user in `users` gets exactly `topN`
   * rows with dense ranks 1..topN, scores non-increasing in rank, and
   * only story ids in `stories`.
   */
  def hybrid(rows: Seq[(String, String, Double, Int)], users: Seq[String], topN: Int,
             stories: collection.Set[String]): Seq[String] = {
    val byUser = rows.groupBy(_._1)
    val missing = users.filterNot(byUser.contains).take(3).map(u => s"user $u has no recommendations")
    val per = byUser.toSeq.flatMap { case (u, rs) =>
      val sorted = rs.sortBy(_._4)
      (if (rs.size != topN) Seq(s"user $u has ${rs.size} rows, want $topN") else Nil) ++
        (if (sorted.map(_._4) != (1 to rs.size)) Seq(s"user $u ranks are not dense") else Nil) ++
        (if (sorted.sliding(2).exists(p => p.size == 2 && p(0)._3 < p(1)._3)) Seq(s"user $u scores rise with rank") else Nil) ++
        rs.map(_._2).filterNot(stories).take(1).map(id => s"user $u got unknown story $id")
    }
    missing ++ per.take(5)
  }
}
