package graft.matching

/** The swappable gazetteer families (name corpora + GPE/LOC/ORG lists —
  * the recall-bearing data the reference loads from
  * `knowledge/corpus/foundation_data/`). Serializable: the production
  * path collects a corpus table on the driver, broadcasts the bundle,
  * and installs it per executor before the fused stage runs
  * (ExtractionPipeline.run). `version` keys the per-JVM automaton
  * caches so a new bundle compiles fresh automatons.
  */
final case class CorpusBundle(
    version: String,
    firstNames: Set[String],
    lastNames: Set[String],
    gpe: Map[String, String],
    loc: Map[String, String],
    orgs: Set[String]) extends Serializable

/** Corpora — the engine's counterpart of the reference's foundation
  * data (`knowledge/corpus/foundation_data/`: 429K first names, 99K
  * last names, GPE/LOC gazetteers) and keyword sets
  * (`config/pattern_sets.yaml:10-100`). Keyword families are static;
  * the gazetteer families live in a swappable [[CorpusBundle]] so
  * production loads them from a catalog table (CorpusTable) and ships
  * them by broadcast. Built-ins are deterministic sandbox subsets.
  */
object Corpora {

  /** Domain → (keyword → weight). Weighted-AC domain classification
    * semantics per `knowledge/aho_corasick_engine.py:110-212`
    * (hit score = keyword_weight × domain_weight).
    */
  val domainKeywords: Map[String, Map[String, Double]] = Map(
    "safety" -> Map(
      "osha" -> 3.0, "hazard" -> 2.0, "safety" -> 2.0, "ppe" -> 2.5,
      "protective equipment" -> 2.5, "injury" -> 1.5, "accident" -> 1.5,
      "fall protection" -> 3.0, "scaffold" -> 2.0, "respirator" -> 2.5,
      "lockout" -> 2.5, "tagout" -> 2.5, "confined space" -> 2.5,
      "workplace safety" -> 3.0, "msds" -> 2.5, "first aid" -> 1.5),
    "regulatory" -> Map(
      "cfr" -> 3.0, "usc" -> 3.0, "regulation" -> 2.0, "compliance" -> 2.0,
      "federal register" -> 3.0, "statute" -> 2.0, "rulemaking" -> 2.5,
      "enforcement" -> 1.5, "standard" -> 1.0, "requirement" -> 1.0,
      "shall comply" -> 2.5, "subpart" -> 2.0),
    "financial" -> Map(
      "revenue" -> 2.0, "profit" -> 2.0, "invoice" -> 2.0, "budget" -> 1.5,
      "fiscal" -> 2.0, "earnings" -> 2.0, "quarterly report" -> 3.0,
      "balance sheet" -> 3.0, "cash flow" -> 2.5, "dividend" -> 2.5,
      "investment" -> 1.5, "audit" -> 1.5, "expense" -> 1.5),
    "medical" -> Map(
      "patient" -> 2.0, "diagnosis" -> 2.5, "treatment" -> 2.0,
      "clinical" -> 2.5, "symptom" -> 2.0, "medication" -> 2.0,
      "physician" -> 2.0, "hospital" -> 1.5, "dosage" -> 2.5,
      "therapy" -> 1.5, "prescription" -> 2.5),
    "environmental" -> Map(
      "epa" -> 3.0, "emission" -> 2.5, "pollution" -> 2.5, "contamination" -> 2.5,
      "groundwater" -> 2.5, "hazardous waste" -> 3.0, "air quality" -> 2.5,
      "remediation" -> 2.5, "wetland" -> 2.0, "endangered species" -> 2.5),
    "technology" -> Map(
      "software" -> 2.0, "algorithm" -> 2.5, "database" -> 2.0, "server" -> 1.5,
      "encryption" -> 2.5, "network" -> 1.5, "api" -> 2.0, "cloud" -> 1.5,
      "machine learning" -> 3.0, "deployment" -> 1.5, "latency" -> 2.0),
    "legal" -> Map(
      "plaintiff" -> 3.0, "defendant" -> 3.0, "court" -> 1.5, "litigation" -> 2.5,
      "attorney" -> 2.0, "contract" -> 1.5, "liability" -> 2.0,
      "jurisdiction" -> 2.5, "settlement" -> 2.0, "breach" -> 2.0))

  /** Per-domain entity terms (C4: third automaton, filtered to target
    * domains; reference `aho_corasick_engine.py:250-280`) — named
    * entities/standards, distinct from the classification keywords.
    */
  val domainEntities: Map[String, Seq[String]] = Map(
    "safety" -> Seq("osha", "niosh", "ansi z359", "hearing protection",
      "fall arrest system", "guardrail", "scba", "hazcom"),
    "regulatory" -> Seq("federal register", "office of management and budget",
      "administrative procedure act", "notice of proposed rulemaking"),
    "financial" -> Seq("sec", "gaap", "sarbanes-oxley", "form 10-k", "irs"),
    "medical" -> Seq("fda", "cdc", "hipaa", "icd-10", "clinical trial"),
    "environmental" -> Seq("epa", "clean air act", "clean water act",
      "superfund", "rcra"),
    "technology" -> Seq("tls", "oauth", "kubernetes", "postgresql", "rest api"),
    "legal" -> Seq("supreme court", "district court", "habeas corpus",
      "class action", "summary judgment"))

  /** Document-type → (keyword → weight), per `aho_corasick_engine.py:214-248`. */
  val doctypeKeywords: Map[String, Map[String, Double]] = Map(
    "report" -> Map(
      "executive summary" -> 3.0, "findings" -> 2.0, "conclusion" -> 1.5,
      "methodology" -> 2.5, "appendix" -> 1.5, "quarterly" -> 1.5, "annual report" -> 3.0),
    "manual" -> Map(
      "instructions" -> 2.0, "procedure" -> 2.0, "step 1" -> 2.5, "warning" -> 1.5,
      "installation" -> 2.0, "troubleshooting" -> 2.5, "user guide" -> 3.0,
      "maintenance" -> 1.5),
    "policy" -> Map(
      "policy" -> 2.5, "shall" -> 1.0, "must" -> 1.0, "prohibited" -> 2.0,
      "effective date" -> 2.5, "scope" -> 1.0, "applicability" -> 2.5),
    "contract" -> Map(
      "agreement" -> 2.5, "party" -> 1.0, "whereas" -> 3.0, "hereinafter" -> 3.0,
      "terms and conditions" -> 3.0, "termination" -> 2.0, "indemnify" -> 3.0),
    "memo" -> Map(
      "memorandum" -> 3.0, "to:" -> 1.5, "from:" -> 1.5, "subject:" -> 1.5, "re:" -> 1.5),
    "article" -> Map(
      "abstract" -> 2.5, "introduction" -> 1.5, "references" -> 2.0,
      "et al" -> 2.5, "doi" -> 3.0, "published" -> 1.5))

  /** GPE gazetteer subset (countries / US states / major cities / agencies)
    * — `knowledge/corpus/foundation_data/gpe/` shape with subcategories.
    */
  private val builtinGpe: Map[String, String] = Map( // value -> subcategory
    "united states" -> "country", "canada" -> "country", "mexico" -> "country",
    "france" -> "country", "germany" -> "country", "japan" -> "country",
    "china" -> "country", "india" -> "country", "brazil" -> "country",
    "united kingdom" -> "country", "australia" -> "country", "spain" -> "country",
    "italy" -> "country", "russia" -> "country", "egypt" -> "country",
    "california" -> "us_state", "texas" -> "us_state", "new york" -> "us_state",
    "florida" -> "us_state", "ohio" -> "us_state", "washington" -> "us_state",
    "virginia" -> "us_state", "colorado" -> "us_state", "oregon" -> "us_state",
    "nevada" -> "us_state", "arizona" -> "us_state", "georgia" -> "us_state",
    "chicago" -> "city", "houston" -> "city", "seattle" -> "city",
    "boston" -> "city", "denver" -> "city", "atlanta" -> "city",
    "los angeles" -> "city", "san francisco" -> "city", "dallas" -> "city",
    "miami" -> "city", "portland" -> "city", "london" -> "city",
    "paris" -> "city", "tokyo" -> "city", "berlin" -> "city",
    "osha" -> "agency", "epa" -> "agency", "fda" -> "agency",
    "sec" -> "agency", "dot" -> "agency", "nasa" -> "agency", "irs" -> "agency")

  /** LOC gazetteer subset (natural features). */
  private val builtinLoc: Map[String, String] = Map(
    "mississippi river" -> "river", "colorado river" -> "river",
    "hudson river" -> "river", "amazon river" -> "river", "nile" -> "river",
    "rocky mountains" -> "mountain", "appalachian mountains" -> "mountain",
    "mount everest" -> "mountain", "sierra nevada" -> "mountain",
    "lake michigan" -> "lake", "lake superior" -> "lake", "great lakes" -> "lake",
    "pacific ocean" -> "ocean", "atlantic ocean" -> "ocean",
    "gulf of mexico" -> "gulf", "grand canyon" -> "canyon",
    "death valley" -> "valley", "mojave desert" -> "desert", "sahara" -> "desert")

  /** ORG gazetteer + suffix cues (reference uses corpus + suffix context,
    * `service_processor.py:1422-1520,2896-3041`).
    */
  private val builtinOrgs: Set[String] = Set(
    "acme corporation", "general electric", "microsoft", "apple inc",
    "google", "amazon", "boeing", "lockheed martin", "exxonmobil",
    "chevron", "pfizer", "johnson & johnson", "goldman sachs",
    "jpmorgan chase", "berkshire hathaway", "world health organization",
    "united nations", "red cross", "department of labor",
    "department of transportation", "national safety council",
    "occupational safety and health administration",
    "environmental protection agency", "internal revenue service",
    "securities and exchange commission", "stanford university",
    "harvard university", "mit")

  val orgSuffixes: Seq[String] = Seq(
    "inc", "inc.", "corp", "corp.", "corporation", "llc", "llp", "ltd",
    "ltd.", "co", "co.", "company", "group", "holdings", "partners",
    "associates", "enterprises", "industries", "solutions", "systems",
    "technologies", "laboratories", "labs", "university", "institute",
    "foundation", "administration", "agency", "department", "commission",
    "council", "association", "bureau")

  /** First/last-name corpora subset (reference broadcasts 429K/99K name
    * files; `service_processor.py:205-244`).
    */
  private val builtinFirstNames: Set[String] = Set(
    "john", "jane", "michael", "sarah", "david", "emily", "james", "mary",
    "robert", "patricia", "william", "jennifer", "richard", "linda",
    "joseph", "elizabeth", "thomas", "susan", "charles", "jessica",
    "christopher", "karen", "daniel", "nancy", "matthew", "lisa",
    "anthony", "betty", "mark", "margaret", "donald", "sandra", "steven",
    "ashley", "paul", "kimberly", "andrew", "donna", "joshua", "carol",
    "kenneth", "michelle", "kevin", "amanda", "brian", "dorothy",
    "george", "melissa", "timothy", "deborah", "ronald", "stephanie",
    "jason", "rebecca", "edward", "laura", "jeffrey", "sharon", "ryan",
    "cynthia", "jacob", "kathleen", "gary", "amy", "nicholas", "angela",
    "eric", "shirley", "jonathan", "anna", "stephen", "brenda", "larry",
    "pamela", "justin", "emma", "scott", "nicole", "brandon", "helen",
    "benjamin", "samantha", "samuel", "katherine", "gregory", "christine",
    "alexander", "debra", "patrick", "rachel", "frank", "carolyn",
    "raymond", "janet", "jack", "maria", "dennis", "heather", "jerry",
    "diane", "tyler", "olivia", "aaron", "julie", "jose", "alice",
    "adam", "victoria", "nathan", "kelly", "henry", "christina",
    "zachary", "joan", "douglas", "evelyn", "peter", "judith", "kyle",
    "megan", "noah", "andrea", "ethan", "cheryl", "carlos", "hannah",
    "wei", "ahmed", "yuki", "pierre", "olga", "ingrid", "raj", "priya")

  private val builtinLastNames: Set[String] = Set(
    "smith", "johnson", "williams", "brown", "jones", "garcia", "miller",
    "davis", "rodriguez", "martinez", "hernandez", "lopez", "gonzalez",
    "wilson", "anderson", "thomas", "taylor", "moore", "jackson",
    "martin", "lee", "perez", "thompson", "white", "harris", "sanchez",
    "clark", "ramirez", "lewis", "robinson", "walker", "young", "allen",
    "king", "wright", "scott", "torres", "nguyen", "hill", "flores",
    "green", "adams", "nelson", "baker", "hall", "rivera", "campbell",
    "mitchell", "carter", "roberts", "gomez", "phillips", "evans",
    "turner", "diaz", "parker", "cruz", "edwards", "collins", "reyes",
    "stewart", "morris", "morales", "murphy", "cook", "rogers",
    "gutierrez", "ortiz", "morgan", "cooper", "peterson", "bailey",
    "reed", "kelly", "howard", "ramos", "kim", "cox", "ward",
    "richardson", "watson", "brooks", "chavez", "wood", "james",
    "bennett", "gray", "mendoza", "ruiz", "hughes", "price", "alvarez",
    "castillo", "sanders", "patel", "myers", "long", "ross", "foster",
    "jimenez", "chen", "wang", "zhang", "kumar", "singh", "tanaka",
    "mueller", "dubois", "ivanov")

  // ------------------------------------------------- swappable bundle

  /** The built-in bundle: sandbox-sized deterministic subsets. */
  val builtIn: CorpusBundle = CorpusBundle("builtin",
    builtinFirstNames, builtinLastNames, builtinGpe, builtinLoc, builtinOrgs)

  @volatile private var active: CorpusBundle = builtIn

  /** Install a (usually broadcast-shipped) bundle. Idempotent per
    * version — executors call this at partition start
    * (ExtractionPipeline), so a table-loaded corpus reaches every JVM
    * without reshipping per task. Version-keyed automaton caches
    * (AhoCorasick.cached) recompile lazily on first use; the superseded
    * version's automatons are evicted so periodic corpus refreshes do
    * not accumulate automaton generations for the JVM lifetime.
    * Assumes one active bundle per executor JVM (true in production:
    * executors are per-application; concurrent different-bundle
    * pipelines only arise in shared local-mode sessions).
    */
  def install(b: CorpusBundle): Unit = if (active.version != b.version) {
    val old = active.version
    active = b
    AhoCorasick.evict(_.endsWith(s".$old"))
  }

  /** Unconditionally restores the built-in bundle and evicts the
    * superseded bundle's automatons. NOT routed through install(): a
    * caller could have installed a DIFFERENT bundle under the version
    * string "builtin" (CorpusTable.load takes a caller-chosen version),
    * and a version-compare would then no-op and leave the imposter
    * active — evicting by the old version also flushes any poisoned
    * "builtin"-keyed automatons so they recompile from the real bundle.
    */
  def reset(): Unit = {
    val old = active
    active = builtIn
    if (!(old eq builtIn)) AhoCorasick.evict(_.endsWith(s".${old.version}"))
  }

  def bundle: CorpusBundle = active
  def version: String = active.version

  def firstNames: Set[String] = active.firstNames
  def lastNames: Set[String] = active.lastNames
  def gpe: Map[String, String] = active.gpe
  def loc: Map[String, String] = active.loc
  def orgs: Set[String] = active.orgs

  /** Person titles / suffixes (reference `person_entity_extractor.py` +
    * normalizer title strip `entity_normalizer.py:437-455`).
    */
  val personTitles: Set[String] = Set(
    "mr", "mrs", "ms", "miss", "dr", "prof", "professor", "sir", "madam",
    "rev", "hon", "capt", "captain", "lt", "sgt", "gen", "col", "maj",
    "president", "director", "secretary", "senator", "governor", "judge")

  val personSuffixes: Set[String] = Set(
    "jr", "jr.", "sr", "sr.", "ii", "iii", "iv", "phd", "ph.d", "md",
    "m.d", "esq", "esq.", "dds", "cpa")

  /** Blacklist for PERSON candidates (job titles / org words / geo /
    * publications — `utils/person_entity_extractor.py:38-560`).
    */
  val personBlacklist: Set[String] = Set(
    "chief", "executive", "officer", "manager", "engineer", "analyst",
    "supervisor", "coordinator", "specialist", "technician", "operator",
    "inspector", "administrator", "assistant", "associate", "consultant",
    "company", "corporation", "department", "division", "committee",
    "board", "team", "group", "street", "avenue", "boulevard", "road",
    "north", "south", "east", "west", "new", "united", "national",
    "american", "federal", "state", "county", "city", "university",
    "institute", "journal", "times", "post", "tribune", "monday",
    "tuesday", "wednesday", "thursday", "friday", "saturday", "sunday",
    "january", "february", "march", "april", "may", "june", "july",
    "august", "september", "october", "november", "december", "table",
    "figure", "section", "chapter", "page", "appendix", "safety",
    "health", "report", "project", "phase", "standard", "requirements")

  /** ~120-word ORG stoplist (`service_processor.py:1422-1520`). */
  val orgStoplist: Set[String] = Set(
    "the", "this", "that", "these", "those", "with", "from", "into",
    "upon", "about", "above", "below", "between", "under", "over",
    "after", "before", "during", "through", "within", "without",
    "all", "any", "each", "every", "some", "such", "other", "another",
    "both", "either", "neither", "more", "most", "less", "least",
    "table", "figure", "section", "chapter", "page", "appendix",
    "introduction", "conclusion", "summary", "overview", "abstract",
    "note", "example", "see", "also", "however", "therefore", "thus",
    "hence", "furthermore", "moreover", "additionally", "finally",
    "first", "second", "third", "next", "last", "new", "old", "high",
    "low", "large", "small", "general", "specific", "total", "annual",
    "monthly", "daily", "weekly", "per", "each", "united states",
    "requirements", "standards", "procedures", "guidelines", "policies",
    "training", "equipment", "materials", "information", "data",
    "results", "analysis", "review", "process", "system", "program",
    "plan", "report", "management", "safety", "health", "quality",
    "performance", "compliance", "monday", "tuesday", "wednesday",
    "thursday", "friday", "january", "february", "march", "april",
    "june", "july", "august", "september", "october", "november",
    "december")

  /** Stopwords for text-quality scoring / language ID (textops). */
  val englishStopwords: Set[String] = Set(
    "the", "be", "to", "of", "and", "a", "in", "that", "have", "i",
    "it", "for", "not", "on", "with", "he", "as", "you", "do", "at",
    "this", "but", "his", "by", "from", "they", "we", "say", "her",
    "she", "or", "an", "will", "my", "one", "all", "would", "there",
    "their", "what", "so", "up", "out", "if", "about", "who", "get",
    "which", "go", "me", "when", "make", "can", "like", "time", "no",
    "just", "him", "know", "take", "is", "are", "was", "were", "been")
}
