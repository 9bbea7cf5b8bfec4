package graft.kg

import graft.model._

/** Entity-link stage: candidate-key generation (the reference's key-transform
  * cascade, grounding/ReachKBKeyTransforms.scala:20-139) + first-hit-wins KB
  * search (ReachEntityLookup.scala:40-69, InMemoryKB.scala:121-143) + species
  * context re-rank (ReachGrounder.scala:68-95).
  *
  * One implementation, [[KbIndex.resolve]]: a broadcast hash-map lookup
  * probed inside the per-conversation stage (map-side join: the KB is MBs,
  * mentions are TBs; broadcasting the small side and probing in-row is the
  * only shape with ZERO shuffle — the classic Spark broadcast-join,
  * hand-held so the first-hit-wins ordering is explicit and deterministic).
  * The `kg_link_firsthit` contract query runs the same lookup, so its
  * DuckDB oracle checks the code the pipeline executes. Spark-free.
  */
object Link {

  /** Deterministic first-hit ordering: (kb_rank, key_rank, species_rank, id).
    * species_rank: context-species match < human < no-species < other
    * (reference: ReachKBUtils.scala:107-108 + grounder re-rank).
    */
  def speciesRank(sp: String, ctxSpecies: String): Int =
    if (ctxSpecies.nonEmpty && sp == ctxSpecies) 0
    else if (sp == "human") 1
    else if (sp.isEmpty) 2
    else 3

  /** Canonical key (F1): trim, lowercase, strip the exact character set
    * " '/-" (reference: ReachKBKeyTransforms.KeyCharactersToRemove:126 +
    * canonicalKey:20-21 — note '.' is NOT removed:
    * TestKBKeyTransforms "canonicalKey(A-B and/or C) == abandorc").
    */
  def canonKey(s: String): String =
    s.trim.toLowerCase.filterNot(c => c == ' ' || c == '\'' || c == '/' || c == '-')

  // ---- reference key-transform cascade (ReachKBKeyTransforms.scala) -------

  /** Gene-name affixes (stand-in for the bioresources geneNameAffixes list;
    * membership pinned by TestReachKBLookupSets:110-150 — "activated" is the
    * first entry, "shrna" the last — plus every affix exercised by
    * TestKBKeyTransforms' stripGeneNameAffixes cases). Case-insensitive.
    */
  val geneNamePrefixes: Set[String] = Set(
    "activated", "egfp", "gfp", "flag", "gst", "ha", "lenti", "luc", "myr",
    "p", "phospho", "phosphor", "phosphorylated", "rh", "shrna")

  /** Protein-domain short names (stand-in for the bioresources
    * proteinDomains list; membership pinned by TestReachKBLookupSets:63-100
    * — "14_3_3" first, "zu5" last — plus common short domains).
    */
  val proteinDomainShortNames: Set[String] = Set(
    "14_3_3", "aaa", "aai", "aicarft_impchas", "dss1_sem1", "hat", "zu5", "germane",
    "sh2", "sh3", "rbd", "ph", "bd", "ct", "nt")

  private val underscoreFamilyRe = "(?i)(.*_family)".r
  private val familyPostRe = "(?i)(.*?)(?: protein family|family)".r
  private val proteinPostRe = "(?i)(.*?)(?: mutant protein|protein)".r
  private val organPostRe = "(?i)(.*?)(?: cells?| tissues?| fluids?)+".r
  private val phosphorMutRe = "(?i)phosphorylated\\s+(.*)\\s+\\w+\\s+mutant".r
  private val trailingMutRe = "(?i)(.*)\\s+\\w+\\s+mutant".r
  private val leadingMutRe = "(?i)mutant(?: |-)+(.*)".r
  private val hyphenNameRe = "(?i)(\\w+)-(\\w+)".r
  private val ptmPrefixCharRe = "(p|u)([A-Z0-9_-][A-Za-z0-9_-]*)".r
  private val gfpSuffixTailRe = java.util.regex.Pattern
    .compile("(?i)(-?e?gfp)+$")
  private val humanSuffixRe = "(?i)(.*)(?:_human)".r

  /** stripAllKeysSuffixes (ReachKBKeyTransforms.scala:28-29): "_human". */
  def stripAllKeysSuffixes(s: String): String = s.trim match {
    case humanSuffixRe(t) => t.trim
    case t => t
  }

  /** stripFamilyPostAttributivesKT:32-36 — an "_family" form is protected
    * (returned unchanged), otherwise " protein family"/"family" strips. */
  def stripFamilyPostAttributives(text: String): Seq[String] = text.trim match {
    case underscoreFamilyRe(t) => Seq(t)
    case familyPostRe(lhs) => Seq(lhs.trim)
    case _ => Nil
  }

  /** stripProteinPostAttributivesKT:84-87: " mutant protein"/"protein". */
  def stripProteinPostAttributives(text: String): Seq[String] = text.trim match {
    case proteinPostRe(lhs) => Seq(lhs.trim)
    case _ => Nil
  }

  /** stripMutantProteinKT:60-65: "phosphorylated X Y mutant" / "X Y mutant"
    * / "mutant X". */
  def stripMutantProtein(text: String): Seq[String] = text.trim match {
    case phosphorMutRe(mid) => Seq(mid.trim)
    case trailingMutRe(lhs) => Seq(lhs.trim)
    case leadingMutRe(rhs) => Seq(rhs.trim)
    case _ => Nil
  }

  /** stripProteinDomainKT:77-80: "NAME-DOMAIN" when the RHS is a known
    * protein-domain short name. */
  def stripProteinDomain(text: String): Seq[String] = text.trim match {
    case hyphenNameRe(lhs, rhs)
      if proteinDomainShortNames.contains(rhs.toLowerCase) => Seq(lhs.trim)
    case _ => Nil
  }

  /** stripGeneNameAffixesKT:40-56: strip trailing (e)GFP suffix runs, then
    * drop hyphen-separated gene-name prefixes; if everything was an affix the
    * last part is the candidate stem. */
  def stripGeneNameAffixes(text: String): Seq[String] = {
    val trimText = text.trim
    val m = gfpSuffixTailRe.matcher(trimText)
    val sansSuffixes = m.replaceAll("").trim
    val prefixParts = sansSuffixes.split("-")
    val sansAffixes = prefixParts
      .filterNot(p => geneNamePrefixes.contains(p.toLowerCase)).mkString("-")
    if (sansAffixes == trimText) Nil
    else if (sansAffixes.isEmpty) Seq(prefixParts.last).filter(_.nonEmpty)
    else if (sansAffixes != sansSuffixes) Seq(sansAffixes)
    else if (sansSuffixes == trimText) Nil
    else Seq(sansSuffixes)
  }

  /** stripPTMPrefixesKT:91-94: single-char p/u fused prefix before an
    * uppercase-or-digit start ("pERK" -> "ERK"); case-sensitive. */
  def stripPTMPrefixes(text: String): Seq[String] = text.trim match {
    case ptmPrefixCharRe(_, rest) => Seq(rest.trim)
    case _ => Nil
  }

  /** stripOrganPostAttributivesKT:68-71: " cell(s)/tissue(s)/fluid(s)". */
  def stripOrganPostAttributives(text: String): Seq[String] = text.trim match {
    case organPostRe(lhs) => Seq(lhs.trim)
    case _ => Nil
  }

  /** Per-label auxiliary transform sequence (the reference wires these per
    * KB: FamilyAuxKeyTransforms / ProteinAuxKeyTransforms /
    * OrganAuxKeyTransforms, ReachKBKeyTransforms.scala:152-164).
    */
  def auxTransforms(label: String): Seq[String => Seq[String]] = label match {
    case "Family" => Seq(stripFamilyPostAttributives _)
    case "Gene_or_gene_product" | "Complex" =>
      Seq(stripProteinPostAttributives _, stripMutantProtein _,
        stripProteinDomain _, stripGeneNameAffixes _, stripPTMPrefixes _)
    case "Organ" => Seq(stripOrganPostAttributives _)
    case _ => Nil
  }

  /** Ordered candidate keys (key_rank = position): the canonical key first,
    * then each label-specific aux transform's candidates, every raw candidate
    * passing through stripAllKeysSuffixes + canonicalKey as KB keys do.
    */
  def candidateKeys(text: String, label: String = "Gene_or_gene_product"): Seq[String] = {
    val t = text.trim
    val raws = t +: auxTransforms(label).flatMap(f => f(t))
    raws.map(r => canonKey(stripAllKeysSuffixes(r)))
      .filter(_.nonEmpty).distinct
  }

  /** Deterministic failsafe grounding (replaces the reference's stateful
    * counter, AzFailsafeKBML.scala:18-27): ns `uaz`, id = canonical key.
    */
  def failsafe(text: String): Grounding =
    Grounding("uaz", "UAZ:" + canonKey(text), "")

  /** Broadcast-side KB index: (canonKey, label) -> entries. */
  final class KbIndex(entries: Seq[KBEntry]) extends Serializable {
    val byKeyLabel: Map[(String, String), Array[KBEntry]] =
      entries.groupBy(e => (canonKey(e.text), e.label))
        .map { case (k, v) => k -> v.toArray }

    /** Ordered candidate resolutions (reference: Grounding.nominate keeps the
      * full ordered list with head = winner, Grounding.scala:49-54; the
      * species re-rank reorders it, ReachGrounder.scala:68-95 — here the
      * context-species rank is already part of the ordering key). Returns
      * Nil when no KB hit exists (callers fall back to [[failsafe]]).
      */
    def resolveCandidates(text: String, label: String,
                          ctxSpecies: String): Seq[KBEntry] = {
      val keys = candidateKeys(text, label)
      var found: List[(((Int, Int, Int, String)), KBEntry)] = Nil
      var ki = 0
      while (ki < keys.length) {
        byKeyLabel.get((keys(ki), label)) match {
          case Some(es) =>
            var i = 0
            while (i < es.length) {
              val e = es(i)
              found = ((e.kb_rank, ki, speciesRank(e.species, ctxSpecies),
                e.id), e) :: found
              i += 1
            }
          case None =>
        }
        ki += 1
      }
      // the key cascade can reach one entry through several keys — keep the
      // best-ranked occurrence of each (ns, id)
      found.sortBy(_._1).map(_._2).distinctBy(e => (e.namespace, e.id))
    }

    /** First-hit-wins resolution with context-species re-rank. */
    def resolve(text: String, label: String, ctxSpecies: String): Grounding =
      resolveCandidates(text, label, ctxSpecies).headOption
        .map(e => Grounding(e.namespace, e.id, e.species))
        .getOrElse(failsafe(text))
  }

  /** Context labels never need KB grounding beyond their own table; events are
    * grounded through their args. Only entity-like labels get linked.
    */
  def linkableLabel(labels: Array[String]): Option[String] = {
    val head = labels.head
    if (head == "Generic_entity") None
    else if (labels.contains("Context") || labels.contains("BioChemicalEntity") ||
             head == "Site" || head == "BioProcess") Some(head)
    else None
  }
}
