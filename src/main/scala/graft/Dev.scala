package graft

import graft.kg._

/** Developer probes for hand-tracing rules and mining golden fixtures:
  *
  *   graft.Dev mentions [SENTENCE...]
  *     tokens, NER tags, POS tags, dependencies and rule mentions of each
  *     sentence; single-threaded, no Spark
  *   graft.Dev triples CONV...
  *     the full pipeline over the given conversations, in-process with no
  *     Spark: the emitted triples per turn, then any causal-precedence
  *     rows. Each CONV is one conversation whose turns are separated by
  *     `||`; `@FILE` stands for one conversation per non-empty line of FILE.
  */
object Dev {
  def main(args: Array[String]): Unit = args.toList match {
    case "mentions" :: texts => mentions(texts)
    case "triples" :: convs if convs.nonEmpty => triples(convs)
    case _ =>
      System.err.println("usage: Dev mentions [SENTENCE...] | " +
        "Dev triples CONV|@FILE...")
      sys.exit(2)
  }

  private def mentions(args: Seq[String]): Unit = {
    val texts = if (args.nonEmpty) args else Seq(
      "RAF and PI3K bind to ubiquitinated Ras.",
      "Grb2 and SOS form a complex.")
    val trie = Annotate.buildTrie(Lexicon.nerLexicon)
    texts.foreach { tx =>
      println(s"== $tx")
      Annotate.annotateText(trie, tx).foreach { s =>
        println("  toks: " + s.words.mkString("|"))
        println("  ner : " + s.ner.mkString("|"))
        val deps = DepParser.parse(s)
        println("  tags: " + deps.tags.mkString("|"))
        s.words.indices.foreach { i =>
          deps.outgoing(i).foreach { case (j, l) =>
            println(s"  dep ${l}(${s.words(i)}/$i -> ${s.words(j)}/$j)")
          }
        }
        BioRules.extractSentence("dbg", 0, s).foreach { m =>
          println(s"  M ${m.labels.head} '${m.text}' [${m.start_tok},${m.end_tok}) by=${m.found_by} args=" +
            m.args.map(a => a.role + ":" + a.mention_id).mkString(",") +
            (if (m.mods.isEmpty) ""
             else " mods=" + m.mods.map(mo =>
               s"${mo.kind}(${mo.label},site=${mo.site_text})").mkString(";")))
        }
      }
    }
  }

  private def triples(args: Seq[String]): Unit = {
    val convs = args.flatMap { a =>
      if (a.startsWith("@"))
        scala.io.Source.fromFile(a.drop(1), "UTF-8").getLines()
          .filter(_.trim.nonEmpty).toSeq
      else Seq(a)
    }
    val turns = convs.zipWithIndex.flatMap { case (c, ci) =>
      c.split("\\|\\|").toSeq.zipWithIndex.map { case (t, ti) =>
        Transcripts.mkTurn(f"t$ci%02d", ti, "user", t.trim)
      }
    }
    val cfg = KgConfig.default
    val (edges, _) = KgExport.materialize(
      KgCore.stageB(turns, KgCore.compile(cfg), cfg))
    val rows = edges.sortBy(e =>
      (e.conv_id, e.turn_idx, e.pred, e.obj, e.site, e.subj))
    turns.foreach { t =>
      println(s"--- ${t.conv_id}[${t.turn_idx}]: ${t.text}")
      rows.filter(e => e.conv_id == t.conv_id && e.turn_idx == t.turn_idx)
        .foreach { e =>
          println(s"    (${e.subj}, ${e.pred}, ${e.obj}, site=${e.site}," +
            s" neg=${e.negated}, hyp=${e.hypothesis})")
        }
    }
    val prec = edges.groupBy(_.conv_id).values
      .flatMap(Precedence.ofConversation(_)).toSeq
      .sortBy(r => (r.conv_id, r.before_pred, r.before_obj, r.after_pred,
        r.after_obj, r.sieve))
    if (prec.nonEmpty) println("=== precedence rows ===")
    prec.foreach(r => println(s"  ${r.conv_id}: ${r.before_pred}(" +
      s"${r.before_obj}) < ${r.after_pred}(${r.after_obj}) [${r.sieve}]"))
  }
}
