package graft.kg

import graft.model._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Entity-link stage: candidate-key generation (the reference's key-transform
  * cascade, grounding/ReachKBKeyTransforms.scala:20-139) + first-hit-wins KB
  * search (ReachEntityLookup.scala:40-69, InMemoryKB.scala:121-143) + species
  * context re-rank (ReachGrounder.scala:68-95).
  *
  * Two equivalent implementations:
  *  - [[KbIndex.resolve]] — broadcast hash-map lookup used inside the
  *    per-conversation stage (map-side join: the KB is MBs, mentions are TBs;
  *    broadcasting the small side and probing in-row is the only shape with
  *    ZERO shuffle — the classic Spark broadcast-join, hand-held so the
  *    first-hit-wins ordering is explicit and deterministic).
  *  - [[linkDF]] — pure DataFrame/Catalyst version (explode keys × broadcast
  *    join × window first-hit) used by the verification queries; demonstrates
  *    that the semantics are relational and DuckDB-checkable.
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

  /** Same cascade as a Catalyst column array — UDF-free builtin-function
    * chain (regexp + array HOFs), fully codegen'd and push-down friendly
    * (SURVEY.md F1-F3). Label-aware, mirroring [[candidateKeys]] exactly.
    */
  def candidateKeysCol(text: Column, label: Column): Column = {
    def canon(c: Column): Column =
      regexp_replace(lower(trim(regexp_replace(trim(c), "(?i)(.*)_human$", "$1"))),
        "[ '/\\-]", "")
    val t = trim(text)
    // family: "_family" forms are protected (same as base), else strip the
    // post-attributive
    val fam = when(t.rlike("(?i)^.*_family$"), t)
      .when(t.rlike("(?i)^.*(?: protein family|family)$"),
        regexp_extract(t, "(?i)^(.*?)(?: protein family|family)$", 1))
    // protein post-attributive
    val ppa = when(t.rlike("(?i)^.*(?: mutant protein|protein)$"),
      regexp_extract(t, "(?i)^(.*?)(?: mutant protein|protein)$", 1))
    // mutant-protein phrases
    val mut = when(t.rlike("(?i)^phosphorylated\\s+.*\\s+\\w+\\s+mutant$"),
        regexp_extract(t, "(?i)^phosphorylated\\s+(.*)\\s+\\w+\\s+mutant$", 1))
      .when(t.rlike("(?i)^.*\\s+\\w+\\s+mutant$"),
        regexp_extract(t, "(?i)^(.*)\\s+\\w+\\s+mutant$", 1))
      .when(t.rlike("(?i)^mutant(?: |-)+.*$"),
        regexp_extract(t, "(?i)^mutant(?: |-)+(.*)$", 1))
    // protein domain: NAME-DOMAIN with a known domain short name
    val domains = array(proteinDomainShortNames.toSeq.sorted.map(lit): _*)
    val pd = when(t.rlike("(?i)^\\w+-\\w+$") &&
        array_contains(domains,
          lower(regexp_extract(t, "(?i)^(\\w+)-(\\w+)$", 2))),
      regexp_extract(t, "(?i)^(\\w+)-(\\w+)$", 1))
    // gene-name affixes: strip trailing (e)GFP runs, then drop hyphen-
    // separated prefixes; all-affix strings keep the last part
    val prefixes = array(geneNamePrefixes.toSeq.sorted.map(lit): _*)
    val sansSuf = trim(regexp_replace(t, "(?i)(-?e?gfp)+$", ""))
    val parts = split(sansSuf, "-")
    val sansAff = array_join(
      filter(parts, p => !array_contains(prefixes, lower(p))), "-")
    val gna = when(sansAff === t, lit(null))
      .when(sansAff === "", element_at(parts, -1))
      .when(sansAff =!= sansSuf, sansAff)
      .when(sansSuf === t, lit(null))
      .otherwise(sansSuf)
    // fused p/u PTM prefix (case-sensitive)
    val ptm = when(t.rlike("^(p|u)[A-Z0-9_-][A-Za-z0-9_-]*$"),
      regexp_extract(t, "^(p|u)([A-Z0-9_-][A-Za-z0-9_-]*)$", 2))
    // organ post-attributives
    val organ = when(t.rlike("(?i)^.*(?: cells?| tissues?| fluids?)+$"),
      regexp_extract(t, "(?i)^(.*?)((?: cells?| tissues?| fluids?))+$", 1))
    val raws = when(label === "Family", array(t, fam))
      .when(label === "Gene_or_gene_product" || label === "Complex",
        array(t, ppa, mut, pd, gna, ptm))
      .when(label === "Organ", array(t, organ))
      .otherwise(array(t))
    array_distinct(filter(transform(raws, r => canon(r)),
      k => k.isNotNull && length(k) > 0))
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

  /** DataFrame variant: mentions(text, label) -> first-hit grounding.
    * explode(keys) ⋈ broadcast(kb) + window-first. Used by verification
    * queries; semantics identical to [[KbIndex.resolve]] with empty context.
    */
  def linkDF(spark: SparkSession, mentions: DataFrame, kb: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keyed = mentions
      .withColumn("keys", candidateKeysCol(col("text"), col("label")))
      .select(col("*"), posexplode(col("keys")).as(Seq("key_rank", "key")))
    val kbKeyed = kb.withColumn("kb_key", regexp_replace(lower(trim(col("text"))), "[ '/\\-]", ""))
      .select(col("kb_key"), col("label").as("kb_label"), col("namespace"),
        col("id"), col("species"), col("kb_rank"))
    val joined = keyed.join(broadcast(kbKeyed),
      keyed("key") === kbKeyed("kb_key") && keyed("label") === kbKeyed("kb_label"),
      "left")
    val spRank = when(col("species") === "human", 1)
      .when(col("species") === "" || col("species").isNull, 2).otherwise(3)
    val w = Window.partitionBy(col("mention_key"))
      .orderBy(col("kb_rank").asc_nulls_last, col("key_rank").asc,
        spRank.asc, col("id").asc_nulls_last)
    joined
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .withColumn("ns", coalesce(col("namespace"), lit("uaz")))
      .withColumn("ns_id", coalesce(col("id"),
        concat(lit("UAZ:"), regexp_replace(lower(trim(col("text"))), "[ '/\\-]", ""))))
      .drop("rn", "keys", "key_rank", "key", "kb_key", "kb_label",
        "namespace", "id", "kb_rank")
  }
}
