package graft

import graft.kg._
import graft.model.Turn

/** Developer probes for hand-tracing rules and mining golden fixtures:
  *
  *   graft.Dev mentions [SENTENCE...]
  *     tokens, NER tags, POS tags, dependencies and rule mentions of each
  *     sentence; single-threaded, no Spark
  *   graft.Dev triples CONV...
  *     the full pipeline over the given conversations: the emitted triples
  *     per turn, then any causal-precedence rows. Each CONV is one
  *     conversation whose turns are separated by `||`; `@FILE` stands for
  *     one conversation per non-empty line of FILE.
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
    val spark = Sessions.getOrCreate("graft-dev")
    import spark.implicits._
    val edges = Pipeline.extract(spark, spark.createDataset[Turn](turns)).edges
    val rows = edges
      .select("conv_id", "turn_idx", "subj", "pred", "obj", "site",
        "negated", "hypothesis")
      .orderBy("conv_id", "turn_idx", "pred", "obj")
      .collect()
    turns.foreach { t =>
      println(s"--- ${t.conv_id}[${t.turn_idx}]: ${t.text}")
      rows.filter(r => r.getString(0) == t.conv_id && r.getInt(1) == t.turn_idx)
        .foreach { r =>
          println(s"    (${r.getString(2)}, ${r.getString(3)}, ${r.getString(4)}," +
            s" site=${r.getString(5)}, neg=${r.getBoolean(6)}, hyp=${r.getBoolean(7)})")
        }
    }
    val prec = Precedence.precedence(edges)
      .select("conv_id", "before_pred", "before_obj", "after_pred",
        "after_obj", "sieve")
      .orderBy("conv_id", "before_pred", "before_obj")
      .collect()
    if (prec.nonEmpty) println("=== precedence rows ===")
    prec.foreach(r => println(s"  ${r.getString(0)}: ${r.getString(1)}(${r.getString(2)})" +
      s" < ${r.getString(3)}(${r.getString(4)}) [${r.getString(5)}]"))
    spark.stop()
  }
}
