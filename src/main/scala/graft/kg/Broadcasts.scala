package graft.kg

import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast

/** The broadcasts of a [[KgConfig]]'s dimension data: NER trie, grounding
  * KB index and matcher grammar. The reference holds its KBs as lazy JVM
  * singletons (ReachIMKBMentionLookups.scala:19-42, PaperReader.rs); the
  * Spark-correct equivalent is ONE broadcast per SparkContext and config,
  * reused by every stage and every job — re-broadcasting per job churns
  * TorrentBroadcast blocks (and was observed to intermittently stall jobs
  * for exactly spark.network.timeout while a stale block fetch timed out).
  */
object Broadcasts {
  type All = (Broadcast[Annotate.Trie], Broadcast[Link.KbIndex],
              Broadcast[BioRules.Grammar])

  private final case class Entry(app: String, grammar: BioRules.Grammar,
                                 kb: KbData, all: All)

  // most recently used first. The bound keeps a caller that builds a fresh
  // config per job from piling up broadcasts: a dropped entry's broadcasts
  // are cleaned by Spark's ContextCleaner once no job holds them
  private val MaxEntries = 8
  private var memo: List[Entry] = Nil

  /** The three broadcasts of `cfg`, made once per SparkContext and per
    * (grammar, KB) pair — compared by reference, so every config that shares
    * [[KgConfig.default]]'s grammar and KB shares its broadcasts. Planners
    * take all three from one call, so a trie and a KB index always come
    * from the same bundle.
    */
  def all(sc: SparkContext, cfg: KgConfig = KgConfig.default): All =
    synchronized {
      val app = sc.applicationId
      val live = memo.filter(_.app == app)
      val e = live.find(e => (e.grammar eq cfg.grammar) && (e.kb eq cfg.kb))
        .getOrElse {
          val p = KgCore.compile(cfg)
          Entry(app, cfg.grammar, cfg.kb, (sc.broadcast(p.trie),
            sc.broadcast(p.kb), sc.broadcast(p.grammar)))
        }
      memo = (e :: live.filterNot(_ eq e)).take(MaxEntries)
      e.all
    }
}
