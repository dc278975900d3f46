package graft.text

import graft.syntax._
import graft.tables.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer: distributed merge training + corpus
  * encoding, both oracle-replayed END-TO-END (no dumped boundary — the
  * DuckDB side re-trains the merges and re-encodes every document from
  * the raw text alone).
  *
  * Training follows the original published BPE algorithm (Sennrich et
  * al. 2016, and the shape of every production tokenizer trainer): the
  * state is the WORD-FREQUENCY table, not the corpus — at 100 TB the
  * corpus has trillions of tokens but only Zipf-bounded millions of
  * word types, so one corpus-sized shuffle (the word count) reduces
  * training to R rounds of vocab-sized work. Per round: segment each
  * word type by the merges learned so far (map-side, merges broadcast),
  * explode adjacent symbol pairs, one partial-agg shuffle for the
  * freq-weighted pair counts, and a deterministic arg-max (count DESC,
  * pair ASC — the tie-break both engines replay). Encoding is map-only:
  * broadcast the merge ranks, apply them in learned order per word —
  * Sennrich's sequential-apply encode, which is what makes the fold
  * SQL-replayable (each merge is one left-to-right non-overlapping
  * scan; no priority queue).
  *
  * The oracle unrolls the R training rounds as chained CTEs (the
  * g_pagerank / m_hw_fixed precedent): segmentation state rides a
  * `·`-joined string through `list_reduce` (the accumulator must be a
  * scalar, so the symbol list IS the string), each round's winner is a
  * one-row CTE the next round's fold cross-joins. The corpus is pinned
  * ASCII lowercase (MultimodalSpec's charset spec), so `·` cannot
  * collide with text and byte/char offsets agree.
  */
object Bpe {
  type Q = (SparkSession, String) => DataFrame

  /** Merge rounds. Constant-interpolated into the oracle (r5 ADVICE
    * discipline) so engine and oracle cannot desync.
    */
  val bpeMerges = 16

  /** Sennrich sequential-apply: one left-to-right non-overlapping scan
    * per learned merge, in rank order.
    */
  def applyMerges(word: String, merges: Seq[(String, String)]): Seq[String] = {
    var syms: List[String] = word.map(_.toString).toList
    merges.foreach { case (x, y) =>
      val out = scala.collection.mutable.ListBuffer.empty[String]
      syms.foreach { s =>
        if (out.nonEmpty && out.last == x && s == y) {
          out.remove(out.length - 1); out += (x + y)
        } else out += s
      }
      syms = out.toList
    }
    syms
  }

  /** Distinct words with corpus frequencies — the training state. */
  private def wordFreq(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(explode(split($"text", " ")).as("word"))
      .filter($"word" =!= "")
      .groupBy($"word").agg(count(lit(1)).as("freq"))

  /** Vocabulary size at or below which the R merge rounds run on the
    * driver instead of as R sequential Spark jobs — the same
    * small-side special case as [[graft.dedup.Dedup.ccDriverThreshold]]
    * (and the same reasoning as a broadcast-join threshold): the
    * training state is the word-frequency table, Zipf-bounded and tiny
    * relative to the corpus, and each distributed round costs a fixed
    * driver toll (plan + job + collect ≈ 100-200 ms) that dwarfs the
    * vocab-sized compute at gate SFs. The driver loop is the SAME
    * algorithm — segment by learned merges, freq-weighted adjacent-pair
    * counts, argmax by (count DESC, pair ASC with unsigned-UTF8-byte
    * string order, Spark's binary comparison) — so the learned table is
    * bit-identical (the end-to-end DuckDB oracle and SqlSurface parity
    * specs pin it). Above the threshold (production vocabularies) the
    * distributed path runs unchanged.
    */
  val bpeDriverVocabThreshold = 200000L

  /** Spark's string ordering is unsigned byte-wise over UTF-8. */
  private def utf8Lt(a: String, b: String): Boolean = {
    val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  /** The R merge rounds on the collected (word, freq) table — exactly
    * the distributed loop's arithmetic and tie order.
    */
  private def trainMergesDriver(wf: Array[(String, Long)]): Seq[(Int, String, String, Long)] = {
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val out    = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    (1 to bpeMerges).foreach { r =>
      val cur = merges.toList
      val cnt = scala.collection.mutable.HashMap.empty[(String, String), Long]
      wf.foreach { case (w, freq) =>
        applyMerges(w, cur).sliding(2).foreach {
          case Seq(x, y) => cnt.updateWith((x, y))(c => Some(c.getOrElse(0L) + freq))
          case _         => ()
        }
      }
      require(cnt.nonEmpty,
        s"vocabulary fully merged after ${r - 1} rounds — lower bpeMerges")
      val ((mx, my), c) = cnt.reduceLeft { (a, b) =>
        // keep a unless b wins: count DESC, then pair ASC byte-wise
        if (b._2 > a._2) b
        else if (b._2 < a._2) a
        else if (utf8Lt(b._1._1, a._1._1)) b
        else if (utf8Lt(a._1._1, b._1._1)) a
        else if (utf8Lt(b._1._2, a._1._2)) b
        else a
      }
      merges += ((mx, my))
      out    += ((r, mx, my, c))
    }
    out.toSeq
  }

  /** Train the merge table: R rounds of freq-weighted pair counting
    * over the segmented vocabulary.
    */
  def trainMerges(s: SparkSession, dir: String,
      driverThreshold: Long = bpeDriverVocabThreshold): Seq[(Int, String, String, Long)] = {
    // localCheckpoint, not persist (r10): text_bpe_train and
    // text_bpe_encode both build this IDENTICAL word-frequency plan, so
    // persist() entries are shared context-wide and the first finisher's
    // unpersist races the other's merge rounds (the gapfillJob
    // empty-stage mechanism). Checkpoint blocks are invocation-private.
    val wf = wordFreq(s, dir).cutLineage()
    // r15: driver-side rounds for driver-sized vocabularies (see
    // [[bpeDriverVocabThreshold]]) — the corpus-sized shuffle (word
    // count) has already happened above; only the Zipf-bounded state
    // crosses to the driver, broadcast-threshold style.
    val vocabN = wf.count()
    if (vocabN <= driverThreshold) {
      val rows = wf.collect().map(r => (r.getString(0), r.getLong(1)))
      return trainMergesDriver(rows)
    }
    // r15 (the g_pagerank round-loop lesson): each of the R rounds is a
    // tiny, fixed-shape vocab-sized query — AQE re-planned its two query
    // stages and ran extra stage-materialization jobs per round, pure
    // driver overhead that does not shrink with cluster size (the r15
    // text_bpe_encode profile: 38 one-task jobs, 30-200 ms scheduling
    // gap each, work 3-40 ms). The rounds run in the shared AQE-off loop
    // scope, on a clone of `s`, so the corpus-sized encode/consumer query
    // still plans with AQE on `s`; plans and results are unchanged.
    graft.Checkpoints.quietLoop(s) { c =>
      val words  = wf.on(c)
      val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      val out    = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
      (1 to bpeMerges).foreach { r =>
        val cur     = merges.toList
        val pairsU  = udf { (w: String) =>
          applyMerges(w, cur).sliding(2).filter(_.length == 2)
            .map(p => (p.head, p(1))).toSeq
        }
        val winner = words
          .select($"freq", explode(pairsU($"word")).as("p"))
          .groupBy($"p._1".as("mx"), $"p._2".as("my"))
          .agg(sum($"freq").as("c"))
          .orderBy($"c".desc, $"mx".asc, $"my".asc)
          .limit(1)
          .collect()
        // fail loudly rather than silently desync from the R-round oracle
        require(winner.nonEmpty,
          s"vocabulary fully merged after ${r - 1} rounds — lower bpeMerges")
        val w = winner.head
        merges += ((w.getString(0), w.getString(1)))
        out    += ((r, w.getString(0), w.getString(1), w.getLong(2)))
      }
      out.toSeq
      // checkpoint blocks reclaimed by the ContextCleaner once wf is unreferenced
    }
  }

  /** Driver query: the learned merge table. */
  val textBpeTrain: Q = (s, d) => {
    val t = trainMerges(s, d)
    val toDf = () => {
      import s.implicits._
      t.toDF("merge_rank", "left_sym", "right_sym", "pair_weight")
    }
    toDf()
      .select($"merge_rank".cast("int"), $"left_sym", $"right_sym",
        concat($"left_sym", $"right_sym").as("merged"), $"pair_weight")
      .orderBy($"merge_rank")
  }

  /** Driver query: encode every document with the learned merges —
    * map-only over the corpus (merges broadcast by the UDF closure),
    * fingerprinted so the oracle checks the exact piece sequence.
    */
  val textBpeEncode: Q = (s, d) => {
    val merges = trainMerges(s, d).map(t => (t._2, t._3))
    val encU = udf { (text: String) =>
      // null text encodes to the empty sequence (chaos probe r11)
      val words =
        if (text == null) Seq.empty[String]
        else text.split(" ", -1).toSeq.filter(_.nonEmpty)
      val pieces = words.map(w => applyMerges(w, merges))
      (words.length, pieces.map(_.length).sum, pieces.map(_.mkString("·")).mkString("·"))
    }
    Tables.documents(s, d)
      .select($"doc_id", encU($"text").as("e"))
      .select(
        $"doc_id",
        $"e._1".cast("long").as("n_words"),
        $"e._2".cast("long").as("n_pieces"),
        md5($"e._3".cast("binary")).as("pieces_md5")
      )
      .orderBy($"doc_id")
  }

  /** The R training rounds unrolled as chained CTEs; returns the CTE
    * block ending in seg$R (word, freq, syms) and w1..wR winners.
    */
  private def trainCtes: String = {
    // the reduce already yields the '·'-joined string — no identity
    // string_split→array_to_string round trip around it (r11 review: the
    // wrapper re-split and re-joined the whole vocabulary per round, and
    // read as if it were load-bearing)
    val fold =
      """list_reduce(syms, (acc, s) -> CASE
        |        WHEN list_last(string_split(acc, '·')) = mx AND s = my
        |        THEN left(acc, length(acc) - length(mx)) || mx || my
        |        ELSE acc || '·' || s END)""".stripMargin
    val rounds = (1 to bpeMerges).map { r =>
      s"""p$r AS MATERIALIZED (
         |  SELECT syms[i] AS mx, syms[i + 1] AS my, SUM(freq) AS c
         |  FROM seg${r - 1}, LATERAL (SELECT unnest(range(1, len(syms))) AS i) t
         |  GROUP BY 1, 2),
         |w$r AS MATERIALIZED (SELECT mx, my, c FROM p$r ORDER BY c DESC, mx, my LIMIT 1),
         |seg$r AS MATERIALIZED (
         |  SELECT word, freq, string_split($fold, '·') AS syms
         |  FROM seg${r - 1}, w$r)""".stripMargin
    }.mkString(",\n")
    s"""wf AS MATERIALIZED (
       |  SELECT word, COUNT(*) AS freq
       |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents) t
       |  WHERE word <> '' GROUP BY word),
       |seg0 AS MATERIALIZED (
       |  SELECT word, freq,
       |    [word[i] for i in range(1, length(word) + 1)] AS syms
       |  FROM wf),
       |$rounds""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "text_bpe_train"  -> textBpeTrain,
    "text_bpe_encode" -> textBpeEncode
  )

  val oracles: Map[String, String] = Map(
    "text_bpe_train" -> {
      val winners = (1 to bpeMerges)
        .map(r => s"SELECT $r AS merge_rank, mx, my, c FROM w$r")
        .mkString("\nUNION ALL ")
      s"""WITH $trainCtes
         |SELECT CAST(merge_rank AS INT) AS merge_rank,
         |  mx AS left_sym, my AS right_sym, mx || my AS merged,
         |  CAST(c AS BIGINT) AS pair_weight
         |FROM ($winners)
         |ORDER BY merge_rank""".stripMargin
    },
    "text_bpe_encode" ->
      s"""WITH $trainCtes,
         |dw AS (
         |  SELECT doc_id, i AS widx, w[i] AS word
         |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) t,
         |    LATERAL (SELECT unnest(range(1, len(w) + 1)) AS i) r
         |  WHERE w[i] <> '')
         |SELECT doc_id,
         |  CAST(COUNT(*) AS BIGINT) AS n_words,
         |  CAST(SUM(len(syms)) AS BIGINT) AS n_pieces,
         |  md5(string_agg(array_to_string(syms, '·'), '·' ORDER BY widx)) AS pieces_md5
         |FROM dw JOIN seg$bpeMerges USING (word)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  )
}
