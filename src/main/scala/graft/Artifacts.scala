package graft

import scala.collection.mutable.ListBuffer

/** Every build-once warehouse artifact family, declared once. An artifact's
  * directory is `prefix + content key of <srcTable>.parquet` under
  * [[Warehouse.root]]; this object is the only place such a name is made
  * (a Round12Spec lint fails the suite if `Warehouse.path(` or `Family(`
  * appears anywhere else in main source), so every builder takes its
  * [[Family]] and [[operators.ArtifactVacuum]] classifies against [[all]].
  *
  * Declaring a family registers it: [[all]] is filled by the declaring
  * helpers, so a builder cannot exist without vacuum coverage.
  */
object Artifacts {

  /** One build-once artifact family: `stem` is the name prefix shared by
    * ALL generations (up to but excluding the version tail), `prefix` the
    * current-version prefix that a live key completes. An entry matching
    * `stem` but not `prefix` is a stale VERSION; matching `prefix` with a
    * non-live key is stale CONTENT. */
  final case class Family(name: String, srcTable: String,
      stem: String, prefix: String) {

    /** Content key of this family's source table under data root `dir`. */
    def key(dir: String): String =
      ContentKey.key(java.nio.file.Paths.get(dir, s"$srcTable.parquet"))

    /** Directory (and, for catalog-registered layouts, table) name of the
      * artifact built from a source with content key `key`. */
    def dirName(key: String): String = prefix + key

    /** Absolute warehouse path of the artifact for content key `key`. */
    def pathOf(key: String): String = Warehouse.path(dirName(key))

    /** Absolute warehouse path of the artifact built from data root `dir`. */
    def path(dir: String): String = pathOf(key(dir))
  }

  /** Global schema epoch of the [[operators.DerivedTable]] families — bump
    * only for changes that touch EVERY derived builder (e.g. the key format
    * itself). Per-builder logic changes bump that family's
    * `builderVersion` instead (ADVICE r05), so invalidation is local:
    * editing the k-means updater can't serve stale centroids, and bumping
    * it doesn't throw away every other derived table. The content key
    * covers source content but cannot see code — without a version a
    * warehouse dir from an older build would be served verbatim. */
  private final val codeVersion = 3 // v3: langprof gained the top-K cap

  /** The [[operators.DerivedTable]] naming scheme,
    * `graft_<tag>_v<codeVersion>_b<builderVersion>_<key>`, without
    * registering the family. */
  private[graft] def derivedFamily(tag: String, srcTable: String,
      builderVersion: Int): Family =
    Family(tag, srcTable, s"graft_${tag}_",
      s"graft_${tag}_v${codeVersion}_b${builderVersion}_")

  private val declared = ListBuffer.empty[Family]

  private def register(f: Family): Family = { declared += f; f }

  private def direct(name: String, srcTable: String, stem: String,
      prefix: String): Family = register(Family(name, srcTable, stem, prefix))

  private def derived(tag: String, srcTable: String,
      builderVersion: Int = 1): Family =
    register(derivedFamily(tag, srcTable, builderVersion))

  // DerivedTable families
  val jlproj = derived("jlproj", "embeddings")
  val ivf4 = derived("ivf4", "embeddings", builderVersion = 2)
  val kmlists = derived("kmlists", "embeddings")
  val kmeans = derived("kmeans", "embeddings")
  val pqbook = derived("pqbook", "embeddings")
  val ivf = derived("ivf", "embeddings", builderVersion = 2)
  val pqcodes = derived("pqcodes", "embeddings")
  val lsh = derived("lsh", "embeddings")
  val fptable = derived("fptable", "documents")
  val langprof = derived("langprof", "documents")
  val traingrams = derived("traingrams", "documents")
  val shingles = derived("shingles", "documents")
  val pminhash = derived("pminhash", "documents")
  val psimhash = derived("psimhash", "documents")
  val winnow = derived("winnow", "documents")
  val dupclusters = derived("dupclusters", "documents")
  val minhash = derived("minhash", "documents")
  val simhash = derived("simhash", "documents")
  val ppjprefix = derived("ppjprefix", "documents")
  val bigramlmUni = derived("bigramlm_uni", "documents")
  val bigramlmTop = derived("bigramlm_top", "documents")
  val bpemerges = derived("bpemerges", "documents", builderVersion = 2)
  val qweights = derived("qweights", "documents", builderVersion = 2)
  val qweightstr = derived("qweightstr", "documents")
  val qvalcurve = derived("qvalcurve", "documents")
  val qweightsval = derived("qweightsval", "documents")
  val bpesyms = derived("bpesyms", "documents", builderVersion = 2)
  val bpemerge1 = derived("bpemerge1", "documents")
  val bpemerge2 = derived("bpemerge2", "documents")
  val bpeseg = derived("bpeseg", "documents")
  val bloombits = derived("bloombits", "documents")
  val aggmv = derived("aggmv", "events")
  val aggmvStale = derived("aggmv_stale", "events")
  val tokens = derived("tokens", "documents")
  val slcp = derived("slcp", "documents", builderVersion = 2)
  val rwslcp = derived("rwslcp", "documents")
  val wfslcp = derived("wfslcp", "documents", builderVersion = 2)
  val capsimhash = derived("capsimhash", "documents")
  val lplabels = derived("lplabels", "documents")
  val geopoints = derived("geopoints", "events")

  // direct Warehouse builders
  val fact = direct("fact", "events", "graft_fact_", "graft_fact_v2_")
  val eventsZorder = direct("events_zorder", "events",
    "graft_events_zorder_", "graft_events_zorder_v1_")
  val eventsByday = direct("events_byday", "events",
    "graft_events_byday_", "graft_events_byday_v2_")
  val eventsFrag = direct("events_frag", "events",
    "graft_events_frag_", "graft_events_frag_v1_")
  val eventsCompact = direct("events_compact", "events",
    "graft_events_compact_", "graft_events_compact_v1_")
  val timeTravel = direct("time_travel", "events", "graft_tt_", "graft_tt_v1_")
  val csvSink = direct("csv_sink", "events", "graft_csv_", "graft_csv_v2_")
  val jsonlSink = direct("jsonl_sink", "documents",
    "graft_jsonl_", "graft_jsonl_v2_")
  val orcSink = direct("orc_sink", "documents", "graft_orc_", "graft_orc_v1_")
  val dynamicOverwrite = direct("dynamic_overwrite", "events",
    "graft_dynover_", "graft_dynover_v1_")
  val schemaEvolution = direct("schema_evolution", "documents",
    "graft_schemaevo_", "graft_schemaevo_v1_")
  val gdprRewrite = direct("gdpr_rewrite", "events",
    "graft_gdpr_", "graft_gdpr_v1_")
  // bucketed layouts: the dir name is also the catalog table name
  val bucketedStats = direct("bucketed_stats", "events",
    "g_user_stats_", "g_user_stats_v2_")
  val bucketedPurch = direct("bucketed_purch", "events",
    "g_user_purch_", "g_user_purch_v2_")

  // stream staging (build-once micro-batch layouts)
  val stageEvents = direct("stage_events", "events",
    "graft_stream_v", "graft_stream_v2_")
  val stageEventsDup = direct("stage_events_dup", "events",
    "graft_stream_dup_", "graft_stream_dup_v1_")
  val stageEventsSplit = direct("stage_events_split", "events",
    "graft_stream_split_", "graft_stream_split_v1_")
  val stageEventsTsplit = direct("stage_events_tsplit", "events",
    "graft_stream_tsplit_", "graft_stream_tsplit_v1_")
  val stageDocsSplit = direct("stage_docs_split", "documents",
    "graft_stream_docsplit_", "graft_stream_docsplit_v1_")
  val stageOrdersSplit = direct("stage_orders_split", "orders",
    "graft_stream_ordsplit_", "graft_stream_ordsplit_v1_")
  val stagePartSplit = direct("stage_part_split", "part",
    "graft_stream_partsplit_", "graft_stream_partsplit_v1_")
  val stageVecSplit = direct("stage_vec_split", "embeddings",
    "graft_stream_vecsplit_", "graft_stream_vecsplit_v1_")
  val stageCcSplit = direct("stage_cc_split", "documents",
    "graft_stream_ccsplit_", "graft_stream_ccsplit_v1_")

  /** Every declared family, in declaration order. Declared last, so the
    * object's initializer has registered every family above by then. */
  val all: Seq[Family] = declared.toList
}
