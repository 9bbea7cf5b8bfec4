package graft

import graft.kg._
import org.scalatest.funsuite.AnyFunSuite

/** Link-stage semantics: key-transform cascade, first-hit-wins ordering,
  * species re-rank, deterministic failsafe — pins the semantics the
  * `KbIndex` lookup and the SQL oracle must both reproduce (reference:
  * TestKBKeyTransforms, TestIMKB, TestReachGrounder). Only the last case
  * starts Spark.
  */
class LinkSpec extends AnyFunSuite {
  private lazy val kb = new Link.KbIndex(Lexicon.kb)

  test("candidate key cascade covers the reference transforms") {
    assert(Link.candidateKeys("AKT1").head == "akt1")
    assert(Link.candidateKeys("AKT1-GFP").contains("akt1"))
    assert(Link.candidateKeys("p53 protein").contains("p53"))
    assert(Link.candidateKeys("RAF family", "Family").contains("raf"))
    assert(Link.candidateKeys("ERK2 T669A mutant").contains("erk2"))
    assert(Link.candidateKeys("cyclin D1").head == "cyclind1")
    // raw key always first (rank 0)
    assert(Link.candidateKeys("p53 protein").head == "p53protein")
  }

  test("canonicalKey removes exactly space/quote/slash/hyphen") {
    // TestKBKeyTransforms:18-36 — '.' is NOT in KeyCharactersToRemove
    assert(Link.canonKey("identical") == "identical")
    assert(Link.canonKey("A-B and/or C") == "abandorc")
    assert(Link.canonKey("MAN_human") == "man_human")
    assert(Link.canonKey("WO-MAN") == "woman")
  }

  test("stripGeneNameAffixes matches the reference algorithm") {
    // TestKBKeyTransforms stripGeneNameAffixes cases
    def gna(s: String) = Link.stripGeneNameAffixes(s)
    assert(gna("NoSuffix").isEmpty)
    assert(gna("BadSuffix-e").isEmpty)
    assert(gna("BadSuffix gf").isEmpty)
    assert(gna("stem-egfp") == Seq("stem"))
    assert(gna("STEM-eGFP") == Seq("STEM"))
    assert(gna("stem gfp") == Seq("stem"))
    assert(gna("egfp-KRAS") == Seq("KRAS"))
    assert(gna("gfp-IL-2") == Seq("IL-2"))
    assert(gna("gfp-IL 2") == Seq("IL 2"))
    assert(gna("gfp-IL-7R-alpha") == Seq("IL-7R-alpha"))
    assert(gna("myr-flag-akt1") == Seq("akt1"))
    assert(gna("Activated-Myr-Flag-Akt1") == Seq("Akt1"))
    assert(gna("p-MYR-HA-Flag-Akt1") == Seq("Akt1"))
    assert(gna("GFP-eGfp").isEmpty)       // all suffixes
    assert(gna("Myr-MYR-myr") == Seq("myr")) // all prefixes: last part kept
  }

  test("family/protein post-attributives and mutant-protein strips") {
    // TestKBKeyTransforms:163-200,308-331
    assert(Link.stripFamilyPostAttributives("parsnip family") == Seq("parsnip"))
    assert(Link.stripFamilyPostAttributives("SAD PROTEIN FAMILY") == Seq("SAD"))
    // "_family" forms are protected, not stripped
    assert(Link.stripFamilyPostAttributives("parsnip_family") == Seq("parsnip_family"))
    assert(Link.stripProteinPostAttributives("hairy protein") == Seq("hairy"))
    assert(Link.stripProteinPostAttributives("ODD mutant PROTEIN") == Seq("ODD"))
    assert(Link.stripMutantProtein("ERK2 T669A mutant") == Seq("ERK2"))
    assert(Link.stripMutantProtein("phosphorylated ERK2 T669A mutant") == Seq("ERK2"))
    assert(Link.stripMutantProtein("mutant AKT1") == Seq("AKT1"))
    assert(Link.stripProteinDomain("AKT1-SH2") == Seq("AKT1"))
    assert(Link.stripProteinDomain("akt1-aai") == Seq("akt1"))
    assert(Link.stripProteinDomain("LHS-RHS").isEmpty)
    assert(Link.stripPTMPrefixes("pERK") == Seq("ERK"))
    assert(Link.stripPTMPrefixes("protein").isEmpty)
    assert(Link.stripOrganPostAttributives("brain tissue") == Seq("brain"))
    assert(Link.stripAllKeysSuffixes("STRING_human") == "STRING")
    assert(Link.stripAllKeysSuffixes("being human") == "being human")
  }

  test("TestProteinResolutions vectors: mutant- prefix, spacing variants, " +
       "underscore domains, family transform not applicable to proteins") {
    // mutant-X / mutant X both strip (stripMutantProtein leading form)
    assert(kb.resolve("mutant-AKT1", "Gene_or_gene_product", "").id == "P31749")
    // canonical key folds space and hyphen: SMAD 2 / SMAD-2 / smad2
    assert(kb.resolve("SMAD 2", "Gene_or_gene_product", "").id == "Q15796")
    assert(kb.resolve("SMAD-2", "Gene_or_gene_product", "").id == "Q15796")
    assert(kb.resolve("smad2", "Gene_or_gene_product", "").id == "Q15796")
    // underscore-named protein domain strips (bioresources proteinDomains)
    assert(Link.stripProteinDomain("PI3Kbeta-DSS1_SEM1") == Seq("PI3Kbeta"))
    assert(kb.resolve("AKT1-DSS1_SEM1", "Gene_or_gene_product", "").id == "P31749")
    // " family" is a Family-label transform only — a protein misses the KB
    assert(kb.resolve("AKT1 family", "Gene_or_gene_product", "").namespace == "uaz")
  }

  test("transformed keys resolve through the KB") {
    assert(kb.resolve("Myr-Flag-AKT1", "Gene_or_gene_product", "").id == "P31749")
    assert(kb.resolve("pERK2", "Gene_or_gene_product", "").id == "P28482")
    assert(kb.resolve("AKT1-SH2", "Gene_or_gene_product", "").id == "P31749")
    assert(kb.resolve("mutant AKT1", "Gene_or_gene_product", "").id == "P31749")
    assert(kb.resolve("phosphorylated ERK2 T669A mutant",
      "Gene_or_gene_product", "").id == "P28482")
    assert(kb.resolve("MEK1_human", "Gene_or_gene_product", "").id == "Q02750")
    assert(kb.resolve("brain tissue", "Organ", "").id == "UBERON:0000955")
    assert(kb.resolve("STAT protein family", "Family", "").id == "PF01017")
  }

  test("first-hit-wins: protein KB before family fallback") {
    // Ras as Gene_or_gene_product: no uniprot entry, pfam at kb_rank 1
    val g = kb.resolve("Ras", "Gene_or_gene_product", "")
    assert(g.namespace == "pfam" && g.id == "PF00071")
    // AKT1: uniprot human beats mouse without context
    val a = kb.resolve("AKT1", "Gene_or_gene_product", "")
    assert(a.id == "P31749" && a.species == "human")
  }

  test("species context re-ranks candidates") {
    val human = kb.resolve("ERK2", "Gene_or_gene_product", "")
    assert(human.id == "P28482")
    val mouse = kb.resolve("ERK2", "Gene_or_gene_product", "mouse")
    assert(mouse.id == "P63085" && mouse.species == "mouse")
    // context with no matching candidate falls back to human
    val yeast = kb.resolve("ERK2", "Gene_or_gene_product", "yeast")
    assert(yeast.id == "P28482")
  }

  test("key rank beats species rank within a KB") {
    // raw key hit (rank 0) must beat a transformed key hit even if the
    // transformed key's entry is human
    val g = kb.resolve("AKT1-GFP", "Gene_or_gene_product", "")
    assert(g.id == "P31749")
  }

  test("override KB (kb_rank -2) beats every standard KB (TestOverrides)") {
    val g = kb.resolve("p38", "Gene_or_gene_product", "")
    assert(g.namespace == "uniprot" && g.id == "Q16539",
      s"override must win over the rank-0 family entry; got $g")
  }

  test("complex KB precedes uniprot in the protein sequence " +
       "(TestComplexResolutions / ReachEntityLookup proteinSeq)") {
    // AMPK is in BOTH KBs; the bepc entry (rank -1) wins for GGP mentions
    val g = kb.resolve("AMPK", "Gene_or_gene_product", "")
    assert(g.namespace == "bepc" && g.id == "AMPK", s"got $g")
    // Complex-labeled mentions resolve through the same complex KB
    val c = kb.resolve("Activin A", "Complex", "")
    assert(c.namespace == "bepc" && c.id == "ACTIVIN_A", s"got $c")
    assert(kb.resolve("9-1-1", "Complex", "").id == "9_1_1")
  }

  test("family key transforms are not applicable to complexes " +
       "(bePC.resolve(\"pthr2 family\") is empty)") {
    // the " family" post-attributive is a Family-label transform only, so a
    // Complex-labeled "X family" surface misses the KB -> failsafe
    val g = kb.resolve("Activin A family", "Complex", "")
    assert(g.namespace == "uaz", s"got $g")
    // mutant patterns not matched either (canonical key keeps 'mutant-')
    assert(kb.resolve("mutant-zyx-1", "Complex", "").namespace == "uaz")
  }

  test("organ alternate lookups strip only trailing attributives " +
       "(TestOrganResolutions:40-66)") {
    // repeated suffix runs all strip; internal 'cell' words survive (the
    // reference resolves "liver cell plate cell" through the organ KB whose
    // key is "liver cell plate")
    assert(Link.stripOrganPostAttributives("blood plasm cells") == Seq("blood plasm"))
    assert(Link.stripOrganPostAttributives("liver cell plate cell") == Seq("liver cell plate"))
    assert(Link.stripOrganPostAttributives("liver cell plate tissues") == Seq("liver cell plate"))
    assert(Link.stripOrganPostAttributives("mesometrium tissue fluids") == Seq("mesometrium"))
    // not-in-KB surfaces fail through every alternate form to the failsafe
    for (suf <- Seq("", " cell", " cells", " tissue", " tissues", " fluid", " fluids"))
      assert(kb.resolve(s"notinkb$suf", "Organ", "").namespace == "uaz")
    // and each alternate of a real key resolves to the same entry
    for (suf <- Seq("", " tissue", " tissues", " cells"))
      assert(kb.resolve(s"brain$suf", "Organ", "").id == "UBERON:0000955")
  }

  test("family-tier KBs accept family transforms only " +
       "(TestFamilyResolutions:38-65)") {
    // "X family" / "X_human" resolve for a Family mention...
    assert(kb.resolve("RAF family", "Family", "").namespace == "pfam")
    assert(kb.resolve("RAF_human", "Family", "").namespace == "pfam")
    assert(kb.resolve("RAF FAMILY", "Family", "").namespace == "pfam")
    // ...but protein transforms are not applied to the Family label
    // (ipPF.resolve("pthr21244 protein") / ("mutant-hk") are empty)
    assert(kb.resolve("RAF protein", "Family", "").namespace == "uaz")
    assert(kb.resolve("mutant-RAF", "Family", "").namespace == "uaz")
  }

  test("failsafe grounding is deterministic and content-derived") {
    val f1 = kb.resolve("XYZ123", "Gene_or_gene_product", "")
    val f2 = kb.resolve("xyz123 ", "Gene_or_gene_product", "")
    assert(f1.namespace == "uaz" && f1.id == "UAZ:xyz123")
    assert(f1 == f2)
  }

  test("label routing: same text, different label, different KB") {
    val fam = kb.resolve("Ras", "Family", "")
    assert(fam.namespace == "pfam")
    val sp = kb.resolve("mouse", "Species", "")
    assert(sp.namespace == "taxonomy" && sp.id == "10090")
  }

  test("kg_link_firsthit returns the pinned 25 groundings") {
    // the rows the query's DuckDB oracle accepts (tools/oracle_check.py
    // runs outside this suite)
    val expect = Seq(
      ("m01", "uniprot", "P31749"), ("m02", "uniprot", "P31749"),
      ("m03", "uniprot", "P04637"), ("m04", "uaz", "UAZ:phosphorylatederk2"),
      ("m05", "pfam", "PF02196"), ("m06", "pfam", "PF00071"),
      ("m07", "uniprot", "P28482"), ("m08", "uaz", "UAZ:xyz123"),
      ("m09", "uniprot", "P24385"), ("m10", "taxonomy", "10090"),
      ("m11", "uaz", "UAZ:thenucleus"), ("m12", "pubchem", "CID5284616"),
      ("m13", "uniprot", "P31749"), ("m14", "uniprot", "P28482"),
      ("m15", "uniprot", "P31749"), ("m16", "uniprot", "P31749"),
      ("m17", "uniprot", "P28482"), ("m18", "uniprot", "Q02750"),
      ("m19", "uberon", "UBERON:0000955"), ("m20", "uniprot", "P01116"),
      ("m21", "uniprot", "P04637"), ("m22", "pfam", "PF01017"),
      ("m23", "bepc", "AMPK"), ("m24", "bepc", "ACTIVIN_A"),
      ("m25", "uaz", "UAZ:activinafamily"))
    val spark = TestSpark.spark
    import spark.implicits._
    val got = SparkEntry.queries("kg_link_firsthit")(spark,
      "/root/testdata/sf0.001")
      .select("mention_key", "ns", "ns_id").as[(String, String, String)]
      .collect().sortBy(_._1).toSeq
    assert(got == expect)
  }
}
