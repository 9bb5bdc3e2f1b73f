package graft.operators

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileContext, Options, Path}
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType,
  IntegerType, LongType, MapType, StructField, StructType}
import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.{compact, parse, render}
import org.json4s.jackson.Serialization

import graft.functions.BroadcastLookup
import graft.io.LocalFs
import graft.sources.Sources

import Similarity.{CentModel, Hier, Mass, Nearest, Probe}

/** The PERSISTED form of the IVF / IVF×PQ index — the missing piece
  * between [[Similarity]]'s in-flight ANN tiers and a 100 TB deployment.
  *
  * Every in-flight tier (s3/s14/s19/s20) re-derives the full listed
  * assignment over the base corpus per query — fine for a one-shot
  * pipeline, wrong for a serving index: a deployment writes the inverted
  * lists ONCE and each probe must read ONLY the probed lists. This module
  * is that composition, built from parts that already exist:
  *
  *  - the lists are written `partitionBy("c_id")` — the layout
  *    [[Similarity.ivfAssign]]'s scaladoc promises ("probing becomes
  *    partition pruning"), now actually materialized. A probe collects
  *    its `≤ |queries|·nProbe` probed list ids (a config-sized driver
  *    collect — the model-artifact pattern, same as the PQ codebook) and
  *    reads the store through a literal `c_id IN (...)` filter, which
  *    static partition pruning turns into "touch only those directories":
  *    probe IO tracks `nProbe/lists × corpus`, not the corpus
  *    (plan-pinned in `VectorIndexSpec`, partition-count-pinned at runtime).
  *  - the store side of the probe never shuffles: the probed query
  *    assignment is collected once and broadcast to the list scan (a
  *    lookup on `c_id`, [[graft.functions.BroadcastLookup]]; PQ stores
  *    broadcast-join it), so the only exchange in the whole probe is
  *    the final `k·|queries|`-bounded top-k window — the vector analog of
  *    the banded dedup store ([[Dedup.writeBandStore]]) and of the
  *    reference's partition-restricted DSE direct join
  *    (reference: hash_join.py:811-818 gates on partition-key coverage;
  *    here the coarse quantizer IS the partition key).
  *  - the index is SELF-DESCRIBING: `centroids/` (the coarse quantizer)
  *    and, for PQ stores, `codebook/` ride beside `lists/`, and the
  *    completeness marker IS the manifest (assignment mode + PQ config,
  *    per-list sizes, payload histograms — [[StoreManifest]]), so a probe
  *    needs nothing but the store path — the same artifact discipline as
  *    [[BloomJoin.sketchBytes]].
  *  - [[appendToIvfIndex]] is continuous ingestion: an increment is
  *    assigned against the STORED centroids (the model stays fixed —
  *    stored rows must be probe- and batch-independent) and appended as
  *    new files inside the existing `c_id=` directories; the per-batch
  *    assignment and write track the increment (the d13/incrementalDedup
  *    contract, applied to vectors), and only the manifest recount reads
  *    the store's partition and histogram columns.
  *
  * Everything is deterministic (stride centroids, exact integer
  * unit-micros dots for every list-membership decision —
  * [[Similarity.unitMicros]] — ties on ascending id), so a probe of a
  * written store replays bit-for-bit in the DuckDB oracle — the
  * persisted path shares s19/s20's oracles.
  */
object VectorIndex {

  /** Bump when the ASSIGNMENT SEMANTICS change (centroid pick, tie-break,
    * super-geometry, PQ encode) in a way that makes previously-written
    * lists disagree with what the same config would write today, or when
    * the store LAYOUT changes — cached store paths embed it, so a
    * semantics change can never silently probe a stale store built by
    * older code (the manifest holds the config, but only the version
    * names the code generation).
    *
    * This includes EXPRESSION-semantics changes that affect assignment
    * (e.g. [[graft.functions.UnitMicros]]'s quantization or NaN
    * handling), not just operator-level geometry: if the same stored
    * vector could file under a different list today, bump.
    *
    * v2: assignment-deciding comparisons moved from `round(cosine, 6)`
    * doubles to exact integer unit-micros dots
    * ([[Similarity.unitMicros]]) — list membership for a handful of
    * near-boundary vectors differs from v1 stores. Defined as: stamped
    * meta + NaN/Infinity-guarded UnitMicros (corrupt vectors → NULL,
    * never silently zero-filed).
    *
    * v3: the unit-micros quantization itself went all-integer —
    * `sign(m)·((|m|·10⁶) div isqrt(nsq))` replaces the
    * `floor(m/√nsq·10⁶+0.5)` float chain (whose legal op
    * contraction/reorder let another engine's replay flip near-boundary
    * argmaxes) — per-component values shift by ≤ 1 micro-unit, so list
    * membership for near-tied vectors differs from v2 stores.
    *
    * v4: the PQ encode moved to the same micros grid
    * ([[graft.functions.PqEncode]]: exact integer squared-L2 instead of
    * the double fold) — stored CODES for near-tied vectors differ from
    * v3 stores, so PQ stores must rebuild; plain stores share the bump
    * for one code generation rather than a per-mode version matrix.
    *
    * v5: the grid scale moved from `10⁶` to the power of two `2²⁰`
    * ([[graft.functions.UnitMicros.GridScale]]) so the grid-entry
    * multiply is an exact exponent shift — ZERO rounded float
    * multiplies anywhere, closing the last FMA-contraction freedom.
    * Every stored unit vector, list assignment, and PQ code quantizes
    * on the new grid, so all stores rebuild.
    *
    * v6: the store's bookkeeping moved into the completeness marker,
    * which became a JSON manifest ([[StoreManifest]]: config, per-list sizes,
    * requested payload histograms) in place of the `meta/`, `sizes/` and
    * `stats/` parquet artifacts. The grid is v5's. The bump makes the
    * version alone name the layout: every servable store carries a
    * manifest and was written by the mass-routed (r18) writer, and an
    * older store — an empty marker — is rebuilt by [[ensureIvfIndex]]
    * and rejected by probes and appends.
    *
    * v7: the manifest records the schemas the build wrote for `lists/`
    * and `centroids/`, and every read-back of a store artifact takes its
    * schema from there (`codebook/`'s is fixed) instead of running a
    * parquet schema-inference job. The grid is v5's. A v6 manifest names
    * no schemas, so a v6 store is rejected by probes and appends and
    * rebuilt by [[ensureIvfIndex]].
    */
  val FormatVersion = 7

  /** The completeness marker, which IS the store manifest
    * ([[StoreManifest]]): one small JSON file at the store root, written
    * LAST, so a killed build leaves no manifest and the probe fails
    * loudly. Every manifest operation goes through the Hadoop FileSystem
    * API, like [[listManifest]], so it works unchanged on `hdfs://` /
    * `s3a://` store paths (a `java.nio.file` marker would live on the
    * DRIVER'S disk, and every probe on another node would reject a good
    * store).
    */
  private val OkMarker = "_GRAFT_IVF_STORE_OK"

  /** The internal routing column of [[routeToLists]] (build, append and
    * compaction), named in ONE place so it can never drift from the
    * payload-name validation: a payload column shadowing it would be
    * silently replaced-and-dropped by the `withColumn(...).drop(...)`
    * rewrite, removing it from every rewritten row.
    */
  private val RouteCol = "_f"

  /** Every column name the store or its probe plans introduce — a payload
    * column colliding with any of these must be rejected at BUILD time
    * (a payload named `q_id` would make every probe die on an ambiguous
    * column; `_f` would be clobbered by the write routing;
    * `_vu`/`_qu`/`_ud` by the probe's unit-micros rank columns).
    */
  private val ReservedNames = Set("vec_id", "v", "c_id", "codes",
    RouteCol,
    "q_id", "qv", "cos", "cos_ud", "rn", "lut", "est", "ern",
    "_vu", "_qu", "_ud")

  private def hadoopConf() =
    SparkSession.getActiveSession
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new org.apache.hadoop.conf.Configuration())

  private def markerPath(path: String) = new Path(path, OkMarker)

  /** True iff `path` holds a completely written store (its manifest). */
  def isComplete(path: String): Boolean = {
    val m = markerPath(path)
    m.getFileSystem(hadoopConf()).exists(m)
  }

  /** Drop the manifest — the FIRST statement of any store rewrite, so a
    * concurrent probe never reads a half-rewritten artifact as complete.
    */
  private def dropMarker(path: String): Unit = {
    val m = markerPath(path)
    m.getFileSystem(hadoopConf()).delete(m, false)
  }

  /** One payload column's per-(list, value) histogram: its type
    * (`DataType.json`) and one `{c_id, sval, n_list}` row per pair as
    * Spark's JSON writer rendered it. Read back by Spark's JSON reader
    * under that type ([[histogramDf]]), values keep the column's type, so
    * a probe's `statsValues` match exactly the rows they match in lists.
    */
  private[operators] case class Histogram(dataType: String, rows: List[JValue])

  /** The counts a manifest carries, taken from the lists ACTUALLY WRITTEN
    * ([[countLists]]): `n_list` per list id and the requested histograms
    * — config-sized metadata like the centroids, so no mass budget pays a
    * corpus pass at probe time.
    */
  private[operators] case class Counts(sizes: Map[String, Long],
      stats: Map[String, Histogram]) {
    def listSizes: Seq[(Long, Long)] =
      sizes.toSeq.map { case (c, n) => (c.toLong, n) }.sortBy(_._1)
  }

  /** The store manifest, so a probe re-derives the exact assignment
    * geometry from the store alone. `version` is the [[FormatVersion]]
    * the store was BUILT under — a probe by a newer code generation
    * rejects the store loudly instead of assigning queries with
    * semantics the stored lists were never filed under (the query
    * layer's paths embed the version too, but caller-supplied paths
    * don't). `payload` names the metadata columns stored inline with
    * each vector, so [[appendToIvfIndex]] selects the same columns from
    * every increment and a schema drift fails loudly at append time.
    * `listsSchema` and `centroidsSchema` (`DataType.json`) are the
    * schemas the build wrote for `lists/` (its `c_id` partition column
    * included) and `centroids/`, which every read-back of those
    * artifacts reads under ([[readBack]]).
    */
  private[operators] case class StoreManifest(
      version: Int, hierarchical: Boolean, superStride: Int, sProbe: Int,
      pq: Boolean, numSubspaces: Int, numCodes: Int, pqResidual: Boolean,
      payload: List[String], listsSchema: String, centroidsSchema: String,
      counts: Counts) {
    /** The assignment geometry in [[Similarity.assignLists]]' terms. */
    def hier: Option[Hier] =
      if (hierarchical) Some(Hier(superStride, sProbe)) else None
    def lists: StructType = DataType.fromJson(listsSchema).asInstanceOf[StructType]
    def centroids: StructType =
      DataType.fromJson(centroidsSchema).asInstanceOf[StructType]
  }

  /** `codebook/`'s schema: the exploded `(s, j, pos, val)` scalars every
    * PQ build writes, the same for every store.
    */
  private[operators] val CodebookSchema = new StructType().add("s", IntegerType)
    .add("j", LongType).add("pos", IntegerType).add("val", DoubleType)

  /** `t` as a parquet read-back sees it: every field nullable, no field
    * metadata — the form a manifest records and an append compares.
    */
  private def bare(t: DataType): DataType = t match {
    case s: StructType =>
      StructType(s.fields.map(f => StructField(f.name, bare(f.dataType))))
    case a: ArrayType => ArrayType(bare(a.elementType))
    case m: MapType => MapType(bare(m.keyType), bare(m.valueType))
    case other => other
  }

  private def bareStruct(t: StructType): StructType =
    bare(t).asInstanceOf[StructType]

  /** The one reader of a store artifact (`lists`, `centroids`,
    * `codebook`): under its recorded schema, so no read-back runs a
    * schema-inference job.
    */
  private def readBack(spark: SparkSession, path: String, artifact: String,
      schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(s"$path/$artifact")

  private[operators] def centroidsOf(spark: SparkSession, path: String,
      meta: StoreManifest): DataFrame =
    readBack(spark, path, "centroids", meta.centroids)

  /** The collected centroid model of each store version, keyed by the
    * qualified `centroids/` path with the [[Sources.Stamp]] it was
    * collected at: part-file names carry the writing job's id, so a
    * rebuild at the same path changes the stamp and the next read
    * collects the new model. One entry per path; `None` is a model
    * [[Similarity.collectCentModel]] refused (the exchange fallback).
    */
  private val models =
    new ConcurrentHashMap[String, (Sources.Stamp, Option[CentModel])]()

  private def remember(spark: SparkSession, path: String,
      cm: Option[CentModel]): Unit =
    Sources.locate(spark, s"$path/centroids").foreach { case (key, stamp) =>
      models.put(key, (stamp, cm))
    }

  /** `centroids/` and its model: the memoized model of this store version
    * (no job), else one collect that seeds the memo. With a model the
    * centroids are its local relation, so no consumer rescans
    * `centroids/`.
    */
  private[operators] def storedModel(spark: SparkSession, path: String,
      meta: StoreManifest): (DataFrame, Option[CentModel]) = {
    val cm = Sources.locate(spark, s"$path/centroids").flatMap {
      case (key, stamp) => Option(models.get(key)).filter(_._1 == stamp).map(_._2)
    }.getOrElse {
      val collected = Similarity.collectCentModel(centroidsOf(spark, path, meta))
      remember(spark, path, collected)
      collected
    }
    (cm.fold(centroidsOf(spark, path, meta))(_.localCents(spark)), cm)
  }

  /** The store's inverted lists `(c_id, vec_id, v, …)` as written — every
    * stored column (PQ `codes`, payload) under the schema the manifest
    * records, `c_id` typed as built — for callers that consume the whole
    * persisted assignment (the build's own membership read-back, SemDeDup
    * over the stored lists). Requires a complete store of this
    * generation.
    */
  def storedLists(spark: SparkSession, path: String): DataFrame =
    readBack(spark, path, "lists", manifestOf(path).lists)

  private implicit val jsonFormats: Formats = DefaultFormats.withBigDecimal

  /** The manifest at `path`, or why none is servable: no store (no
    * marker), a store of another generation (an EMPTY marker — what every
    * generation ≤ 5 wrote — or a manifest whose `version` is not
    * [[FormatVersion]]), or a manifest that fails its checksum or does not
    * parse (damaged — the write protocol can't produce it). The version is
    * read before the rest, so an older manifest's shape is never taken
    * for damage. Any other filesystem error PROPAGATES: answering "not
    * servable" to a transient IO hiccup would trigger a full index
    * rebuild.
    */
  private def loadManifest(path: String): Either[String, StoreManifest] = {
    val m = markerPath(path)
    val fs = m.getFileSystem(hadoopConf())
    def damaged(why: String) = s"the manifest of the store at $path is " +
      s"damaged ($why) — rebuild with writeIvfIndex or ensureIvfIndex"
    def generation(g: String) = s"store at $path was built under " +
      s"assignment-semantics generation $g, this code is generation " +
      s"$FormatVersion — its list membership would disagree with the " +
      "probe's query assignment; rebuild with writeIvfIndex or ensureIvfIndex"
    val text =
      try {
        val in = fs.open(m)
        try Right(new String(in.readAllBytes(), UTF_8)) finally in.close()
      } catch {
        case _: java.io.FileNotFoundException => Left(
          s"no completed IVF store at $path — build with writeIvfIndex")
        case _: org.apache.hadoop.fs.ChecksumException =>
          Left(damaged("checksum mismatch"))
      }
    def read[A](a: => A) =
      scala.util.Try(a).toEither.left.map(e => damaged(e.getClass.getSimpleName))
    text.flatMap {
      case "" => Left(generation("≤ 5 (its completeness marker carries no " +
        "manifest)"))
      case t => read(parse(t, useBigDecimalForDouble = true)).flatMap { j =>
        j \ "version" match {
          case JInt(v) if v != FormatVersion => Left(generation(v.toString))
          case _ => read(j.extract[StoreManifest])
        }
      }
    }
  }

  /** The manifest of a complete store of THIS code's generation — every
    * probe's and mutation's precondition — or an
    * `IllegalArgumentException` naming `path`.
    */
  private[operators] def manifestOf(path: String): StoreManifest =
    loadManifest(path).fold(e => throw new IllegalArgumentException(e),
      identity)

  /** Write `m` as the store's manifest — LAST in every mutation — to a
    * temporary file renamed over the old one, so a concurrent probe reads
    * either the old manifest or the new one, never a partial file.
    */
  private def putManifest(spark: SparkSession, path: String,
      m: StoreManifest): Unit = {
    LocalFs.register(spark)
    val conf = spark.sessionState.newHadoopConf()
    val dst = markerPath(path)
    val tmp = new Path(path, s"$OkMarker.tmp")
    val fs = dst.getFileSystem(conf)
    val out = fs.create(tmp, true)
    try out.write(Serialization.write(m).getBytes(UTF_8)) finally out.close()
    FileContext.getFileContext(fs.getUri, conf).rename(fs.makeQualified(tmp),
      fs.makeQualified(dst), Options.Rename.OVERWRITE)
  }

  /** True iff `path` holds a completely written store of THIS code's
    * generation — the build-if-needed gate ([[ensureIvfIndex]] and
    * callers managing their own build): a complete store of an older
    * generation must be REBUILT, where a probe/append of one must FAIL
    * (they do — loudly, on the manifest's recorded generation). A store
    * of another generation, or with a damaged manifest, is NOT servable
    * rather than an error: the gate's callers want "rebuild".
    *
    * `payload`: when given, the store must ALSO have been built with
    * exactly these inline payload column names — a servable-looking
    * store missing a requested payload column would make the caller's
    * filtered probe die on an unresolved column far from the cause.
    * `pqResidual`, when the caller states a requirement, must MATCH: a
    * raw-codes store served to a residual-expecting ensure (or vice
    * versa) would probe self-consistently — the manifest drives the LUT
    * — but in the wrong encoding space from the caller's standpoint.
    * `hier`, when the caller states a requirement, must match the
    * recorded assignment geometry (`Some(None)`: flat): probes replay the
    * recorded filing, so a store of another geometry would serve the
    * caller's probes under list membership it did not ask for.
    */
  def isServable(spark: SparkSession, path: String,
      payload: Seq[String] = Nil,
      pqResidual: Option[Boolean] = None,
      hier: Option[Option[Hier]] = None): Boolean =
    loadManifest(path).exists(m => (payload.isEmpty || m.payload == payload) &&
      pqResidual.forall(_ == m.pqResidual) && hier.forall(_ == m.hier))

  /** The two-level geometry a store is built with unless the caller
    * passes another (s19's: 16 centroids per super-list, 2 super-probes).
    */
  private val DefaultHier = Hier(16, 2)

  /** Write the IVF index of `base` at `path`: inverted lists partitioned
    * by `c_id` (+ PQ codes when `pq`), the centroid model, and — last —
    * the manifest. One pass over the corpus.
    *
    * `hier` (default `Some(Hier(16, 2))`) builds the lists with the two-level
    * assignment ([[Similarity.ivfAssignHierarchical]] — rows ×
    * (√k·… ) instead of rows × k cosines, the s19 trade measured at 2.65×
    * on the sf10 copy); `None` is the exact flat argmax (s3 semantics).
    * Probes replay whichever geometry the manifest records, so store and
    * probe assignment can never disagree.
    *
    * `pq = true` additionally stores the `numSubspaces` PQ codes per
    * vector ([[graft.functions.PqEncode]], codebook from the FULL corpus
    * — stored codes must be probe-independent) plus the codebook itself,
    * enabling [[probeIvfPqIndex]]'s codes-only candidate scan.
    *
    * `centroids` overrides the default stride-picked coarse quantizer
    * with a caller-trained `(c_id, cv)` model (the faiss deployment
    * shape: k-means trains on a sample, the index is built with the
    * trained centroids — [[Similarity.kmeansCentroids]] output plugs in
    * directly). The model is persisted beside the lists either way, so
    * probes and appends replay the caller's geometry from the store
    * alone.
    *
    * `payload` stores extra metadata columns of `base` INLINE with each
    * vector (named/aliased `Column`s — e.g. `col("label")`) — the
    * filtered-vector-search layout: a probe's `where` predicate on a
    * payload column is evaluated inside the pruned list scan (parquet
    * data filter on only the probed partitions), never as a post-hoc
    * join against a corpus-sized attribute table; unfiltered probes
    * column-prune the payload away. Costs one co-keyed join on `vec_id`
    * at build time. `statsCols` (payload column names) adds their
    * per-list value histograms to the manifest for
    * [[probeIvfIndexFiltered]]. PRECONDITION: `id` must be unique in
    * `base` — the payload join is an inner join of two projections of
    * `base` on `vec_id`, so a duplicated id SQUARES its stored rows.
    *
    * The file count per `c_id=` directory is sized from the data, PER
    * LIST: rows are routed by a deterministic `xxhash64(vec_id)` split
    * co-partitioned with `c_id` before the write (the [[compactIvfIndex]]
    * bin trick applied AT BUILD TIME), each list to `ceil(itsBytes /
    * targetFileBytes)` splits, with per-list bytes estimated from a
    * deterministic 1/[[RouteSampleStride]] hash slice of the assignment
    * scaled by the input size (Catalyst's file-index estimate) — so a
    * file ≈ one HDFS block / row-group at ANY corpus size AND any skew.
    * (An unrouted partitionBy write fans every upstream task across every
    * list — `tasks × lists` drizzle files, 81,920 at the 100× gate; a
    * global-mean width sized a Zipf-heavy list's files at `heavyShare ×
    * lists ×` the target, its one writer task the build's straggler; a
    * fixed 1 means ~400 GB single files per list at 100 TB.) An input
    * whose size estimate is at most `targetFileBytes` takes the 1-file
    * route with no sampling job — no list can estimate above the whole
    * input, so the sample could only answer 1. Sources without a real
    * size estimate take the 1-file route too, and per-list counts are
    * clamped to [1, 4096] (≈ a 512 GB list at the 128 MB default target
    * — past that, raise `targetFileBytes` deliberately).
    */
  def writeIvfIndex(
      base: DataFrame,
      id: Column,
      vec: Column,
      path: String,
      centroidStride: Int = 50,
      maxCentroids: Int = 256,
      hier: Option[Hier] = Some(DefaultHier),
      pq: Boolean = false,
      numSubspaces: Int = 8,
      numCodes: Int = 16,
      codeStride: Int = 16,
      centroids: Option[DataFrame] = None,
      payload: Seq[Column] = Nil,
      targetFileBytes: Long = 128L << 20,
      pqResidual: Boolean = false,
      statsCols: Seq[String] = Nil): Unit = {
    val spark = base.sparkSession
    LocalFs.register(spark)
    require(!pqResidual || pq,
      "pqResidual is a PQ-codes encoding mode — set pq = true with it")
    // payload validation FIRST: a name collision (see ReservedNames)
    // must fail before any artifact of an existing store is touched
    val pay = base.select((id.as("vec_id") +: payload): _*)
    val payNames = pay.columns.toSeq.drop(1)
    val bad = payNames.filter(ReservedNames)
    require(bad.isEmpty,
      s"payload column names reserved by the store or its probes: " +
        bad.mkString(", "))
    // stats columns must be stored inline: the filtered probe's scan
    // predicate runs on the payload column, so counts of an un-stored
    // column could never be applied
    val badStats = statsCols.filterNot(payNames.contains)
    require(badStats.isEmpty,
      s"statsCols must name payload columns (add them to `payload`): " +
        badStats.mkString(", "))
    requireTarget(targetFileBytes)
    // invalidate BEFORE any artifact is touched: a rebuild of an existing
    // complete store overwrites the codebook eagerly below, and a
    // concurrent probe in that window must fail loudly on the missing
    // marker rather than read the NEW codebook against the OLD lists
    dropMarker(path)
    // a flat store records the default geometry, which no probe reads
    val geometry = hier.getOrElse(DefaultHier)
    val config = StoreManifest(FormatVersion, hier.isDefined,
      geometry.superStride, geometry.sProbe, pq, numSubspaces, numCodes,
      pqResidual, payNames.toList, "", "", Counts(Map.empty, Map.empty))
    // the centroid model is collected ONCE — for stride centroids by the
    // same collect that picks them: the assignment, the residual join, the
    // list count and `centroids/` all read it, so none of them re-runs the
    // centroid pick over `base` (no model — the exchange fallback — keeps
    // the frame)
    val (cents, cm) = centroids.fold(Similarity.pickCentroids(
        base.select(id.as("vec_id"), vec.as("v")), centroidStride,
        maxCentroids)) { c =>
      val picked = c.select(col("c_id"), col("cv"))
      val m = Similarity.collectCentModel(picked)
      (m.fold(picked)(_.localCents(spark)), m)
    }
    val listed = Similarity.assignLists(base, id, vec, cents, config.hier,
      model = cm)
    val rows =
      if (!pq) listed
      else {
        // pqResidual (r18 — Jégou's IVFADC as the STORED layout, §16c):
        // codes and codebook live in residual space (v − centroid(list)),
        // so the cells resolve within-list variation instead of
        // re-separating lists the coarse quantizer already separated
        val cb = Similarity.listCodebook(base, id, vec, listed, cents,
          pqResidual, numSubspaces, numCodes, codeStride)
        // persist the codebook as exploded scalars (s, j, pos, val) — the
        // config-sized model artifact, array-format-free like kmeansTrain's
        import spark.implicits._
        cb.zipWithIndex.flatMap { case (codes, s) =>
          codes.zipWithIndex.flatMap { case (cvec, j) =>
            cvec.zipWithIndex.map { case (v, p) => (s, j.toLong, p + 1, v) }
          }
        }.toSeq.toDF("s", "j", "pos", "val")
          .coalesce(1).write.mode("overwrite").parquet(s"$path/codebook")
        Similarity.withCodes(listed, cents, cb, pqResidual)
      }
    val stored = if (payload.isEmpty) rows else rows.join(pay, Seq("vec_id"))
    val meta = config.copy(
      listsSchema = writeLists(stored, base, listed, cm, cents,
        targetFileBytes, path, "overwrite", None).json,
      centroidsSchema = bareStruct(cents.schema).json)
    cents.coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    remember(spark, path, cm)
    putManifest(spark, path, meta.copy(counts = countLists(spark, path, meta,
      statsCols)))
  }

  private def requireTarget(targetFileBytes: Long): Unit =
    require(targetFileBytes > 0,
      s"targetFileBytes must be positive, got $targetFileBytes")

  /** Route `stored` rows to their lists and write them under `lists/` —
    * the layout rule the build and every append share: per-list widths
    * auto-sized from `input`'s bytes and `listed`'s sampled masses (see
    * [[writeIvfIndex]]). `recorded` is the store's `lists/` schema when
    * appending: rows of another schema are rejected before anything is
    * written, since a read under the recorded schema would misread their
    * files.
    *
    * @return the written schema as a read-back sees it ([[bare]])
    */
  private def writeLists(stored: DataFrame, input: DataFrame,
      listed: DataFrame, cm: Option[Similarity.CentModel], cents: DataFrame,
      targetFileBytes: Long, path: String, mode: String,
      recorded: Option[StructType]): StructType = {
    // the list count comes from the collected centroid model (a count job
    // only on the exchange fallback), and is taken only when a split can
    // happen; the one-file route's writer width needs no count job:
    // unknown means many lists
    val routed = routeToLists(stored,
      autoListFileCounts(input, listed, targetFileBytes).getOrElse(Map.empty),
      cm.fold(cents.count())(_.ids.length.toLong),
      listWriters(stored.sparkSession, cm.map(_.ids.length.toLong)))
    val schema = bareStruct(routed.schema)
    recorded.foreach { want =>
      def typeOf(t: StructType, c: String) =
        t.find(_.name == c).fold("absent")(_.dataType.simpleString)
      val drift = (schema.fields.toSeq.diff(want.fields.toSeq).map(_.name) ++
        want.fieldNames.diff(schema.fieldNames)).distinct
      require(drift.isEmpty, s"append to the store at $path would write " +
        drift.map(c => s"$c as ${typeOf(schema, c)} (recorded: " +
          s"${typeOf(want, c)})").mkString(", ") +
        " — cast the increment to the recorded types")
    }
    routed.write.mode(mode).partitionBy("c_id").parquet(s"$path/lists")
    schema
  }

  /** The writer width of the one-file-per-list route: one task per list
    * up to the session's cores — `nLists` when known without a job, else
    * the cores.
    */
  private def listWriters(spark: SparkSession, nLists: Option[Long]): Int = {
    val cores = spark.sparkContext.defaultParallelism
    nLists.fold(cores)(n => n.min(cores.toLong).max(1L).toInt)
  }

  /** Count the lists ACTUALLY WRITTEN (read-back, the s23 honesty rule)
    * in ONE job with no exchange: each scan task counts its distinct
    * `(c_id, statsCol…)` rows, and the driver merges the partial counts
    * into the per-list sizes and every requested histogram — one scan of
    * the partition column plus the histogram columns, never the vectors.
    * Values reach the driver as Spark's JSON writer renders them, the form
    * a manifest stores.
    *
    * The histograms are the zone-map-style metadata behind
    * [[probeIvfIndexFiltered]]: under a payload predicate the mass budget
    * must run over MATCHING counts, and the per-(list, value) histogram
    * answers "how many matching rows does each list hold" without a
    * corpus pass at probe time (cardinality: lists × distinct values —
    * low-cardinality metadata columns like label/lang/source by
    * construction; a high-cardinality column would be the wrong
    * filter-stats key at any engine).
    */
  private def countLists(spark: SparkSession, path: String,
      meta: StoreManifest, statsCols: Seq[String]): Counts = {
    val cols = statsCols.distinct
    val keyed = readBack(spark, path, "lists", meta.lists)
      .select((col("c_id").cast("long").as("c_id") +:
        cols.zipWithIndex.map { case (c, i) => col(c).as(s"_s$i") }): _*)
    val partial = keyed.mapPartitions { rows =>
        val n = scala.collection.mutable.HashMap.empty[Row, Long]
        rows.foreach(r => n(r) = n.getOrElse(r, 0L) + 1L)
        n.iterator.map { case (r, c) => Row.fromSeq(r.toSeq :+ c) }
      }(Encoders.row(keyed.schema.add("n_list", LongType, nullable = false)))
      .toJSON.collect().toList.map(parse(_, useBigDecimalForDouble = true))
    def merged[K](key: JValue => K): Map[K, Long] =
      partial.groupMapReduce(key)(r => (r \ "n_list").extract[Long])(_ + _)
    def cId(r: JValue) = (r \ "c_id").extract[Long]
    Counts(
      merged(cId).map { case (c, n) => c.toString -> n },
      cols.zipWithIndex.map { case (c, i) =>
        c -> Histogram(keyed.schema(s"_s$i").dataType.json,
          merged(r => (cId(r), r \ s"_s$i")).toList
            .sortBy { case ((cid, v), _) => (cid, v.toString) }
            .map { case ((cid, v), n) =>
              ("c_id" -> cid) ~ ("sval" -> v) ~ ("n_list" -> n): JValue })
      }.toMap)
  }

  /** A histogram as the `(c_id, sval, n_list)` frame [[listStats]]
    * promises: a local relation, parsed under the recorded type.
    */
  private def histogramDf(spark: SparkSession, h: Histogram): DataFrame = {
    import spark.implicits._
    val schema = new StructType().add("c_id", LongType)
      .add("sval", DataType.fromJson(h.dataType)).add("n_list", LongType)
    h.rows.map(r => compact(render(r))).toDF("j")
      .select(from_json(col("j"), schema).as("r")).select("r.*")
  }

  /** The store's per-list row counts `(c_id, n_list)`, from its manifest. */
  def listSizes(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    manifestOf(path).counts.listSizes.toDF("c_id", "n_list")
  }

  /** The per-(list, value) histogram `(c_id, sval, n_list)` of one payload
    * column — from the manifest when the store was built (or ensured)
    * with it in `statsCols`, else counted by the same [[countLists]]
    * without persisting the result (the documented fallback; the
    * persisted histogram is what makes the filtered probe
    * corpus-pass-free at steady state).
    */
  def listStats(spark: SparkSession, path: String,
      statsCol: String): DataFrame =
    statsOf(spark, path, manifestOf(path), statsCol)

  private def statsOf(spark: SparkSession, path: String, m: StoreManifest,
      statsCol: String): DataFrame =
    histogramDf(spark, m.counts.stats.getOrElse(statsCol,
      countLists(spark, path, m, Seq(statsCol)).stats(statsCol)))

  /** 1-in-N deterministic hash slice for the auto route's per-list mass
    * estimate — the cost knob: the estimating pass assigns only
    * `corpus / RouteSampleStride` rows (the filter on `xxhash64(vec_id)`
    * pushes through the assignment's windows — they partition on
    * `vec_id` — down to the scan).
    */
  private val RouteSampleStride = 64L

  /** PER-LIST file counts of the store's route (see [[writeIvfIndex]]):
    * each list gets `ceil(listBytes / targetFileBytes)`
    * files, with `listBytes` estimated as `inputBytes × (sampled list
    * rows / sampled total)` from a deterministic 1/[[RouteSampleStride]]
    * hash slice of the SAME assignment that files the rows — never a
    * second full assignment pass. Lists absent from the sample route to
    * 1 file; estimates are a LAYOUT knob only — row content and probe
    * results are invariant to which file a row lands in. Counts clamped
    * to [1, 4096].
    *
    * `None` — the 1-file route, with no sampling job — when the
    * plan-stats estimate is the session's `defaultSizeInBytes` sentinel
    * (in-memory frames with no real size: callers take the 1-file route
    * rather than trust an 8 EB placeholder), or when the whole input
    * fits one file: every list's estimate is then at most the input's,
    * so at most `targetFileBytes`, and the sample could only answer 1.
    */
  private def autoListFileCounts(
      base: DataFrame, listed: DataFrame,
      targetFileBytes: Long): Option[Map[Long, Int]] = {
    val stats = base.queryExecution.optimizedPlan.stats.sizeInBytes
    val unknown = BigInt(
      base.sparkSession.sessionState.conf.defaultSizeInBytes)
    if (stats >= unknown || stats <= targetFileBytes) None
    else {
      val sampled = listed
        .filter(pmod(xxhash64(col("vec_id")), lit(RouteSampleStride)) === 0)
        .groupBy(col("c_id").cast("long").as("c_id"))
        .agg(count(lit(1)).as("_n"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val total = math.max(sampled.map(_._2).sum, 1L)
      Some(sampled.map { case (cid, nSampled) =>
        val bytes = stats * nSampled / total
        val files = (bytes + targetFileBytes - 1) / targetFileBytes
        cid -> files.max(1).min(4096).toInt
      }.toMap)
    }
  }

  /** Co-partition rows with their target list plus a deterministic
    * `xxhash64(vec_id) % files(c_id)` sub-split — `files` is
    * `listFiles(c_id)`, else 1 — so the partitionBy writer emits
    * `≤ files(c_id)` files per `c_id=` directory instead of one per
    * upstream task per list. Row content is untouched — routing only
    * decides WHICH file a row lands in. Per-list widths are the auto
    * route's mass-proportional counts ([[autoListFileCounts]]) or
    * compaction's bin counts.
    *
    * When every width is 1 the exchange keys on `c_id` alone into
    * `writers` partitions (one per list up to the cores — see
    * [[listWriters]]): each list lands wholly in one task, so exactly one
    * file, and a partition COUNT is never coalesced by AQE, so a small
    * store's lists still write on every core (AQE would merge a
    * count-free `repartition(c_id)` of a few MB into ONE writer task,
    * which then creates every list's directory and file serially).
    * Otherwise the partition COUNT is pinned to the intended
    * writer parallelism (Σ listed widths + 1 for each of `nLists`
    * lists): an adaptive exchange would COALESCE the small sub-splits
    * back into shared tasks — same-list splits in one task merge into
    * one file — and silently undo the sizing (measured: a 76-way split
    * wrote 1 file per list under AQE before the pin). Capped at 65536
    * tasks; past that a task holds several sub-splits and files grow past
    * `targetFileBytes` proportionally — still bounded, never drizzle.
    */
  private def routeToLists(rows: DataFrame, listFiles: Map[Long, Int],
      nLists: => Long, writers: Int): DataFrame =
    if (listFiles.values.forall(_ <= 1))
      rows.repartition(writers, col("c_id"))
    else {
      val parts = (listFiles.values.map(_.toLong).sum + nLists)
        .max(1L).min(65536L).toInt
      rows.withColumn(RouteCol, pmod(xxhash64(col("vec_id")),
          coalesce(element_at(typedLit(listFiles), col("c_id").cast("long")),
            lit(1)).cast("long")))
        .repartition(parts, col("c_id"), col(RouteCol))
        .drop(RouteCol)
    }

  /** [[writeIvfIndex]] only when `path` has no completed store — the
    * serving pattern (build once, probe many); callers that must refresh
    * call [[writeIvfIndex]] directly.
    */
  def ensureIvfIndex(
      base: DataFrame,
      id: Column,
      vec: Column,
      path: String,
      centroidStride: Int = 50,
      maxCentroids: Int = 256,
      hier: Option[Hier] = Some(DefaultHier),
      pq: Boolean = false,
      numSubspaces: Int = 8,
      numCodes: Int = 16,
      codeStride: Int = 16,
      payload: Seq[Column] = Nil,
      targetFileBytes: Long = 128L << 20,
      pqResidual: Boolean = false,
      statsCols: Seq[String] = Nil): Unit = {
    // resolve the requested payload NAMES the same way the build records
    // them, so a servable store built without (or with different) payload
    // columns is rebuilt here instead of failing the caller's filtered
    // probe on an unresolved column
    val payNames =
      if (payload.isEmpty) Nil
      else base.select((id.as("vec_id") +: payload): _*).columns.toSeq.drop(1)
    // the encoding-space requirement only binds for PQ ensures — a plain
    // ensure must keep serving existing PQ stores (their codes are
    // simply unread), so pass a requirement, not the default; the
    // geometry always binds
    if (!isServable(base.sparkSession, path, payNames,
        if (pq) Some(pqResidual) else None, Some(hier)))
      writeIvfIndex(base, id, vec, path, centroidStride, maxCentroids, hier,
        pq, numSubspaces, numCodes, codeStride, payload = payload,
        targetFileBytes = targetFileBytes,
        pqResidual = pqResidual, statsCols = statsCols)
    else {
      // servable store, possibly built before these histograms were
      // requested: recount from the lists already on disk and rewrite the
      // manifest (rows unchanged, so no rebuild; the filtered probe then
      // runs corpus-pass-free)
      val m = manifestOf(path)
      if (!statsCols.forall(m.counts.stats.contains))
        putManifest(base.sparkSession, path, m.copy(counts = countLists(
          base.sparkSession, path, m, m.counts.stats.keys.toSeq ++ statsCols)))
    }
    // callers with a TRAINED model check isServable themselves before
    // training (the model derivation may run eager jobs — an ensure that
    // trains just to discard the result would defeat its own point)
  }

  /** Assign `increment` against the STORED centroids (and, for a
    * hierarchical store, the same super-geometry — both re-derived from
    * the store, so an appended row lands exactly where a build-time row
    * with the same vector would) and append its rows inside the existing
    * `c_id=` partition directories. The centroid model is deliberately
    * NOT retrained: stored rows must stay probe- and batch-independent,
    * the same fixed-model contract as the PQ codebook. The assignment and
    * the write track the increment; the manifest does not: after the
    * rows land, [[countLists]] re-reads the partition column and the
    * histogram columns of the WHOLE `lists/` (never the vectors) to
    * recount the sizes and histograms.
    */
  def appendToIvfIndex(
      increment: DataFrame,
      id: Column,
      vec: Column,
      path: String,
      targetFileBytes: Long = 128L << 20): Unit = {
    val spark = increment.sparkSession
    LocalFs.register(spark)
    val meta = manifestOf(path)
    val (cents, cm) = storedModel(spark, path, meta)
    val listed = Similarity.assignLists(increment, id, vec, cents, meta.hier,
      model = cm)
    // PQ stores encode with the STORED codebook (residual stores against
    // the STORED centroids too)
    val rows =
      if (!meta.pq) listed
      else Similarity.withCodes(listed, cents,
        readCodebook(spark, path, meta), meta.pqResidual)
    // payload columns are selected BY THE NAMES the build recorded, so an
    // increment missing one fails loudly here instead of appending rows
    // a filtered probe would silently treat as predicate-false
    val stored =
      if (meta.payload.isEmpty) rows
      else rows.join(
        increment.select((id.as("vec_id") +: meta.payload.map(col)): _*),
        Seq("vec_id"))
    requireTarget(targetFileBytes)
    // same routing as the build, sized by the INCREMENT's bytes and
    // sampled masses: a small batch adds 1 file per touched list (which
    // keeps compaction occasional), a bulk or skewed backfill gets
    // block-sized files like a build would
    writeLists(stored, increment, listed, cm, cents, targetFileBytes, path,
      "append", Some(meta.lists))
    // recount AFTER the rows land, then swap the manifest: a crash
    // between the two leaves last batch's counts — a drift in the mass
    // budget's list SELECTION the next append heals, never a wrong
    // result. A full recount (not an increment merge) is what heals it.
    putManifest(spark, path, meta.copy(counts = countLists(spark, path, meta,
      meta.counts.stats.keys.toSeq)))
  }

  private def readCodebook(spark: SparkSession, path: String,
      meta: StoreManifest): Array[Array[Array[Double]]] = {
    val rows = readBack(spark, path, "codebook", CodebookSchema).collect()
      .map(r => ((r.getAs[Int]("s"), r.getAs[Long]("j"), r.getAs[Int]("pos")),
        r.getAs[Double]("val"))).toMap
    val subDim = rows.keys.map(_._3).max
    Array.tabulate(meta.numSubspaces)(s => Array.tabulate(meta.numCodes)(j =>
      Array.tabulate(subDim)(p => rows((s, j.toLong, p + 1)))))
  }

  /** The list selection of every store probe: [[Similarity.probeLists]]
    * over the stored centroid model ([[storedModel]]), in the geometry the
    * manifest records, with the list masses a budget reads taken from
    * `sizes` — the manifest's ([[listSizes]]), or
    * [[probeIvfIndexFiltered]]'s matching counts with `dropEmpty`. The
    * budget's total is summed on the driver; a [[Nearest]] probe reads
    * neither.
    *
    * The probed query assignment is collected ONCE — config-sized, the
    * rows every probe broadcasts whole — so the probe's own query neither
    * rescans nor re-assigns the queries.
    */
  private def selectLists(
      spark: SparkSession, path: String, meta: StoreManifest,
      queries: DataFrame, id: Column, vec: Column, probe: Probe,
      sizes: Seq[(Long, Long)], dropEmpty: Boolean = false): Assigned = {
    import spark.implicits._
    def n = {
      val total = sizes.map(_._2).sum
      require(total > 0, s"store at $path has no rows — nothing to probe")
      total
    }
    val (cents, cm) = storedModel(spark, path, meta)
    val probed = Similarity.probeLists(queries, id, vec,
      cents.select(col("c_id"), col("cv")), sizes.toDF("c_id", "n_list"), n,
      probe, meta.hier, dropEmpty, cm)
    val withKeys = probed.select(col("*"), col("c_id").cast("long").as("_cl"),
      Similarity.unitMicros(col("qv")).as("_qu"))
    new Assigned(spark, withKeys.collect(), withKeys.schema)
  }

  /** A store probe's collected query assignment: rows of `(c_id, q_id,
    * qv)` plus each row's list id `_cl` and unit query vector `_qu`.
    */
  private final class Assigned(spark: SparkSession, rows: Array[Row],
      schema: StructType) {
    private def at(name: String) = schema.fieldIndex(name)

    /** The distinct probed list ids — the partition-pruning literal. */
    val ids: Array[Long] = rows.map(_.getLong(at("_cl"))).distinct.sorted

    /** `(c_id, q_id, qv)` as a local relation. */
    def relation: DataFrame = spark.createDataFrame(rows.toSeq.asJava, schema)
      .select(col("c_id"), col("q_id"), col("qv"))

    /** The queries probing a list row's `c_id`, as
      * [[Similarity.rescoreLookup]] takes them: one broadcast variable,
      * which no Spark job ships.
      */
    private def probing: Column = {
      val t = ArrayType(StructType(Seq(schema("q_id"), schema("_qu"))))
      val toCatalyst = CatalystTypeConverters.createToCatalystConverter(t)
      val table: Map[Long, Any] = rows.groupBy(_.getLong(at("_cl"))).map {
        case (c, rs) => c -> toCatalyst(rs.toSeq.map(r =>
          Row(r.get(at("q_id")), r.get(at("_qu")))))
      }
      ColumnBridge.column(BroadcastLookup(ColumnBridge.expression(col("c_id")),
        spark.sparkContext.broadcast(table), t))
    }

    def rescore(lists: DataFrame): DataFrame =
      Similarity.rescoreLookup(lists, probing)
  }

  /** The store's lists restricted to the probed ids, via a literal filter
    * ON THE PARTITION COLUMN — static partition pruning; only the probed
    * `c_id=` directories are listed or read. The literal is typed to the
    * partition column's recorded type (a literal of another type would
    * wrap the column in a cast and defeat pruning). `where` is a probe's
    * payload pre-filter, pushed into the same scan as a parquet data
    * filter.
    */
  private[operators] def prunedLists(
      spark: SparkSession, path: String, meta: StoreManifest,
      ids: Array[Long], where: Option[Column] = None): DataFrame = {
    val raw = readBack(spark, path, "lists", meta.lists)
    val pruned = raw.schema("c_id").dataType match {
      case LongType =>
        raw.filter(col("c_id").isin(ids.toIndexedSeq: _*))
      case org.apache.spark.sql.types.IntegerType =>
        raw.filter(col("c_id").isin(ids.toIndexedSeq.map(_.toInt): _*))
      case _ =>
        raw.filter(col("c_id").cast("long").isin(ids.toIndexedSeq: _*))
    }
    where.foldLeft(pruned.withColumn("c_id", col("c_id").cast("long")))(
      _.filter(_))
  }

  /** Probe a persisted IVF store: select each query's lists under
    * `probe` in the store's own geometry, read ONLY those partitions,
    * broadcast the query assignment onto them, and return the
    * exact-cosine top-k — [[Similarity.ivfTopK]]'s output shape
    * (`q_id, vec_id, cos_ud, rn`), bit-identical to the in-flight tier at
    * the store's geometry and the same `probe` (spec-pinned; the
    * shared-oracle identities behind s24, s34 and s38), with probe IO
    * that tracks the probed lists instead of the corpus. A budget probe
    * ([[Similarity.Mass]], [[Similarity.HierMass]]) reads its list masses
    * from the manifest ([[listSizes]]), so it never pays a corpus pass;
    * [[Similarity.HierMass]] needs a store built with a `hier` geometry
    * — probing a flat store two-level would INVENT a filing the stored
    * lists never had, so it is rejected.
    *
    * `where` is PRE-FILTERED vector search over the store's inline
    * payload columns (see [[writeIvfIndex]]): the predicate restricts the
    * CANDIDATE set before ranking — each query still gets its full `k`
    * survivors among matching rows (post-filtering a plain top-k would
    * return < k and miss matches outside the unfiltered top) — and it
    * evaluates inside the pruned list scan as a pushed parquet data
    * filter, so a filtered probe reads the same pruned partitions and
    * never joins a corpus-sized attribute table.
    */
  def probeIvfIndex(
      spark: SparkSession,
      path: String,
      queries: DataFrame,
      id: Column,
      vec: Column,
      k: Int = 10,
      probe: Probe = Nearest(2),
      where: Option[Column] = None): DataFrame = {
    val meta = manifestOf(path)
    val probed = selectLists(spark, path, meta, queries, id, vec, probe,
      meta.counts.listSizes)
    Similarity.topK(probed.rescore(
      prunedLists(spark, path, meta, probed.ids, where)), k)
  }

  /** FILTERED top-k under the mass budget, with the budget run over
    * MATCHING masses — the metadata-filtered vector search the raw-mass
    * tiers get WRONG on any corpus where the predicate is anti-
    * correlated with the query's neighborhood (cross-source / cross-
    * language retrieval: "nearest docs from that OTHER source").
    *
    * The failure this closes (BASELINE §18a): fixed `nProbe` and the
    * raw-mass budget select lists by centroid-cosine order alone, so
    * under a selective predicate whose matching rows live AWAY from the
    * query the selected lists hold plenty of ROWS but no MATCHING rows,
    * every candidate dies on the scan predicate, and filtered recall
    * collapses while the unfiltered contracts all stay green.
    *
    * The rule here is [[Similarity.Mass]]'s gate fed by FILTERED
    * per-list masses from the `statsCol` histogram in the store's
    * manifest ([[listStats]] — config-sized, counted at build, recounted
    * on append; a store built without it is counted by the same
    * [[countLists]] at probe time, unpersisted): lists still rank by
    * centroid cosine, but (a) lists with ZERO matching rows are excluded
    * outright (`dropEmpty` — they can contribute no candidate, and
    * scanning them buys nothing), and (b) the cumsum-until-budget runs
    * over matching counts against the corpus's total MATCHING count.
    * `massPpm` thereby keeps its meaning under any predicate: the
    * fraction of the MATCHING corpus each query's pruned scan may touch —
    * probing exactly as deep as the filtered neighborhood requires,
    * whether the predicate names 40% of the corpus or 0.4%. All-integer
    * decision, oracle-replayable (s40).
    *
    * `statsValues` is the predicate (`statsCol IN (values…)`), applied
    * three times from one declaration so the budget's weighting and the
    * scan's filter can never diverge: filtered masses (selection), the
    * pruned scan's pushed data filter (candidates), and the matching
    * total (the budget's denominator). `where` composes an optional
    * RESIDUAL predicate on other payload columns — it filters
    * candidates but, by design, does not reweight the budget (declare
    * the selective dimension as the stats column; residual predicates
    * should be the mild ones).
    *
    * 100 TB shape: identical to a [[Similarity.Mass]] [[probeIvfIndex]] — the
    * budget-selected list set IS the partition filter and the predicate
    * a parquet data filter inside only those partitions. The one new
    * scale knob is stats cardinality (lists × distinct values; see
    * [[countLists]]).
    */
  def probeIvfIndexFiltered(
      spark: SparkSession,
      path: String,
      queries: DataFrame,
      id: Column,
      vec: Column,
      statsCol: String,
      statsValues: Seq[Any],
      k: Int = 10,
      massPpm: Long = 150000L,
      where: Option[Column] = None): DataFrame = {
    require(statsValues.nonEmpty, "statsValues must name at least one value")
    val meta = manifestOf(path)
    require(meta.payload.contains(statsCol),
      s"statsCol '$statsCol' is not a stored payload column of $path " +
        s"(stored: ${meta.payload.mkString(", ")}) — the probe's scan " +
        "predicate runs on the inline payload, build with payload= and " +
        "statsCols=")
    // per-list matching counts: the histogram's matching values, filtered
    // by Spark (the scan predicate's own semantics) on the local histogram
    // and summed per list on the driver — config-sized, no corpus pass
    val fsizes = statsOf(spark, path, meta, statsCol)
      .filter(col("sval").isin(statsValues: _*))
      .select(col("c_id"), col("n_list")).collect()
      .toSeq.map(r => (r.getLong(0), r.getLong(1)))
      .groupMapReduce(_._1)(_._2)(_ + _).toSeq
    require(fsizes.map(_._2).sum > 0,
      s"no stored rows match $statsCol IN (${statsValues.mkString(", ")})")
    val probed = selectLists(spark, path, meta, queries, id, vec,
      Mass(massPpm), fsizes, dropEmpty = true)
    val pred = where.foldLeft(col(statsCol).isin(statsValues: _*))(_ && _)
    Similarity.topK(probed.rescore(
      prunedLists(spark, path, meta, probed.ids, Some(pred))), k)
  }

  /** Radius (range) search against a persisted store: every candidate in
    * the probed lists with `cosine ≥ minCosine` — top-k's standard
    * sibling for "all near-duplicates / all matches above a bar" calls
    * (the SemDeDup prune's question, served from the index instead of
    * re-derived). Same probe shape as [[probeIvfIndex]] — config-sized
    * probed-list collect, static partition pruning, broadcast query
    * assignment, optional `where` pre-filter on payload columns — but no
    * per-query RESULT window at all: the threshold replaces the rank, so
    * top-k's one `k·|queries|`-bounded rank exchange disappears and the
    * store side flows scan→filter→lookup→project with no exchange at all
    * (the query assignment is collected before the probe's own query).
    * Membership decides on the exact integer unit-grid dot
    * (`minCosine` scaled to the 2⁴⁰ dot scale — see
    * [[Similarity.cosineMicros2]]), never on a float boundary; output is
    * `(q_id, vec_id, cos_ud)` where `cos_ud` IS the integer score
    * membership decided on (so every emitted row satisfies the bar —
    * and no float reaches the output), exactly as the top-k tiers emit
    * theirs. Result size is
    * data-dependent by definition — callers bound it with `minCosine`
    * (and `probe`), not `k`; a [[Similarity.Mass]] budget matters even
    * more here than for top-k, since the probe's I/O bound is the ONLY
    * cost knob the caller holds. APPROXIMATE like every IVF probe: a
    * neighbor above the bar whose list is unprobed is missed — recall
    * rides the same `probe` the top-k tiers measure.
    */
  def probeIvfRange(
      spark: SparkSession,
      path: String,
      queries: DataFrame,
      id: Column,
      vec: Column,
      minCosine: Double,
      probe: Probe = Nearest(2),
      where: Option[Column] = None): DataFrame = {
    val meta = manifestOf(path)
    val probed = selectLists(spark, path, meta, queries, id, vec, probe,
      meta.counts.listSizes)
    // membership on the integer score itself (`udot ≥ minCosine·2⁴⁰`): a
    // candidate AT the bar must never hinge on a float boundary
    probed.rescore(prunedLists(spark, path, meta, probed.ids, where))
      .filter(col("cos_ud") >= Similarity.cosineMicros2(minCosine))
  }

  /** File manifest of the store's inverted lists, one row per data file:
    * `(c_id, file_id, bytes)` — the metadata view a maintenance job plans
    * on. Built through the Hadoop FS API, so it works unchanged on
    * HDFS/S3 at deployment scale; at 100 TB the manifest is thousands of
    * rows where the lists are billions — maintenance plans on the
    * manifest, never the data.
    */
  def listManifest(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    manifestFiles(spark, path).toDF("c_id", "file_id", "bytes")
  }

  /** [[listManifest]]'s rows on the driver, as the FS listing gave them. */
  private def manifestFiles(spark: SparkSession,
      path: String): Seq[(Long, String, Long)] = {
    val lists = new org.apache.hadoop.fs.Path(s"$path/lists")
    val fs = lists.getFileSystem(spark.sessionState.newHadoopConf())
    fs.listStatus(lists).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("c_id="))
      .flatMap { dir =>
        val cId = dir.getPath.getName.stripPrefix("c_id=").toLong
        fs.listStatus(dir.getPath).toSeq
          .filter(f => f.isFile && !f.getPath.getName.startsWith("_")
            && !f.getPath.getName.startsWith("."))
          .map(f => (cId, f.getPath.getName, f.getLen))
      }
  }

  /** Small-file compaction for a store grown by [[appendToIvfIndex]] —
    * the `OPTIMIZE` analog: every append drops one file set per touched
    * `c_id=` directory, so a continuously-ingesting store drifts toward
    * drizzle-sized files and probe IO pays per-file open cost instead of
    * row-group scans. Planning is [[Layout.compactionPlan]]'s bin rule
    * over [[listManifest]]'s rows (group = list, next-fit by byte offset
    * into `targetBytes` bins), run on the driver by
    * [[Layout.nextFitBins]] — the FS listing is already there, so
    * deciding which lists to rewrite costs no Spark job. Only lists
    * where a rewrite wins are touched,
    * through a partition-pruned read and a DYNAMIC partition overwrite —
    * untouched lists are never read or rewritten. A rewrite wins in
    * EITHER direction (r18): some bin holds more than one file (drizzle
    * — the merge case), or some single file exceeds `2 × targetBytes`
    * (oversized — the SPLIT case: a heavy list whose mass outgrew its
    * estimate is one file in one bin, never "needy" to a merge rule).
    * Rows are routed to `max(bins, ceil(listBytes / targetBytes))`
    * output files via a deterministic `xxhash64(vec_id) % files` split,
    * so a compacted list lands in row-group-friendly blocks of
    * ≈`targetBytes` whichever direction it came from.
    *
    * Probe results are bit-identical before and after (the store's ROWS
    * are untouched — spec-pinned, and `s28`'s standing oracle replays the
    * probe of a compacted store); the manifest is dropped for the
    * duration of the rewrite, so a killed compaction fails the next probe
    * loudly instead of serving a half-rewritten store, and put back
    * unchanged after it (no count changes).
    *
    * @return the pre-compaction plan for the rewritten lists — one row
    *         per merged file: (`c_id`, `file_id`, `bytes`, `bin`,
    *         `bin_files`, `bin_bytes`)
    */
  def compactIvfIndex(
      spark: SparkSession,
      path: String,
      targetBytes: Long = 128L << 20): DataFrame = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    LocalFs.register(spark)
    // read before the marker drop: compaction changes no row, so the same
    // manifest goes back afterwards
    val meta = manifestOf(path)
    val plan = manifestFiles(spark, path).groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (c, files) =>
        c -> Layout.nextFitBins(files.map(f => (f._2, f._3)), targetBytes)
      }
    // lists worth rewriting, in either direction: drizzle (some bin
    // holds >1 file — merge) or an oversized single file (> 2× target —
    // split; within 2× is row-group tolerance, not worth a rewrite).
    // The rewrite width right-sizes both: at least the plan's bins, at
    // least the list's ideal ceil(bytes/target), clamped like the build
    val needy = plan.collect {
      case (c, bins) if bins.exists(b =>
          b.binFiles > 1 || b.bytes > 2L * targetBytes) =>
        val ideal = (bins.map(_.bytes).sum - 1) / targetBytes + 1
        c -> ideal.max(bins.map(_.bin).distinct.size).min(4096L).toInt
    }.toMap
    if (needy.nonEmpty) {
      val rewrite = routeToLists(
        prunedLists(spark, path, meta, needy.keys.toArray.sorted), needy,
        0L, listWriters(spark, Some(needy.size.toLong)))
      dropMarker(path)
      // the per-write option, never the session conf: a concurrent write
      // on the caller's session must keep its own overwrite mode
      rewrite.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("c_id").parquet(s"$path/lists")
      putManifest(spark, path, meta)
    }
    import spark.implicits._
    plan.filter(p => needy.contains(p._1)).flatMap { case (c, bins) =>
      bins.map(b => (c, b.fileId, b.bytes, b.bin, b.binFiles, b.binBytes))
    }.toDF("c_id", "file_id", "bytes", "bin", "bin_files", "bin_bytes")
  }

  /** Continuous ingestion into a persisted store: each micro-batch of
    * `(id, vec)` rows is assigned against the STORED model and appended
    * via [[appendToIvfIndex]] — the streaming face of the same append
    * contract, so the store a batch job builds and the store this stream
    * grows are the same artifact (the [[EventStreams.ingestDedupStream]]
    * shape applied to vectors).
    *
    * `foreachBatch` (not a stateful operator) is the right Spark shape:
    * the store is external shared state that must outlive the query and
    * stay probeable mid-stream. Assignment is deterministic, so an
    * at-least-once replay appends identical rows; exactly-once callers
    * dedup on `vec_id` at probe time or fence batches upstream — the
    * same caveat [[appendToIvfIndex]] documents for batch re-runs.
    */
  def appendStream(
      vecs: DataFrame,
      id: Column,
      vec: Column,
      path: String): org.apache.spark.sql.streaming.StreamingQuery = {
    LocalFs.register(vecs.sparkSession)
    vecs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) appendToIvfIndex(batch, id, vec, path)
      }
      .start()
  }

  /** Continuous serving against a persisted store: each micro-batch of
    * `(id, vec)` query rows is probed via [[probeIvfIndex]] and the
    * `(q_id, vec_id, cos, rn)` top-k rows are handed to `onResults` —
    * the read face of [[appendStream]], together the full
    * ingest-and-serve loop over one store artifact. Probing is stateless
    * per batch (the store is the state), so at-least-once replays re-emit
    * identical rows, and a store refreshed between batches is picked up
    * by the next batch's probe — mid-rewrite batches fail loudly on the
    * completeness marker rather than serving a half-written store.
    */
  def probeStream(
      queries: DataFrame,
      id: Column,
      vec: Column,
      path: String,
      onResults: (DataFrame, Long) => Unit,
      k: Int = 10,
      probe: Probe = Nearest(2),
      where: Option[Column] = None): org.apache.spark.sql.streaming.StreamingQuery = {
    LocalFs.register(queries.sparkSession)
    queries.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty)
          onResults(probeIvfIndex(batch.sparkSession, path, batch, id, vec,
            k, probe, where), batchId)
      }
      .start()
  }

  /** Probe a PQ store ([[writeIvfIndex]] with `pq = true`): the ADC
    * candidate ranking reads ONLY `(vec_id, codes)` from ONLY the probed
    * partitions (column pruning × partition pruning — the scan that makes
    * IVF×PQ a serving index: a few small ints per candidate instead of
    * the vector), the pool survivors are broadcast back onto the same
    * pruned partitions to fetch full vectors for the exact rescore, and
    * the result is bit-identical to [[Similarity.ivfPqTopK]] over the
    * same geometry and `probe` (spec-pinned). The pool floor — `k·nProbe`
    * under [[Similarity.Nearest]], `k` under a budget — matches
    * `ivfPqTopK`'s enforced contract.
    *
    * r18: serves RESIDUAL stores transparently (`writeIvfIndex(pq =
    * true, pqResidual = true)` — codes over `v − centroid(list)`, the
    * IVFADC layout §16c showed clustered corpora need): the manifest
    * routes the LUT to per-(query, probed-list) residual space. And both
    * adaptive knobs compose: a [[Similarity.Mass]] probe over the
    * manifest's sizes (the budget then bounds the BYTES the codes scan
    * touches) and `poolPpm` in place of the fixed pool — a residual
    * store probed with both is the store-served s33 (shared oracle, s35).
    *
    * `where` pre-filters candidates on the store's inline payload
    * columns, exactly as in [[probeIvfIndex]] — applied BEFORE the ADC
    * pool cut, so the pool holds `max(pool, floor)` MATCHING candidates (filtering
    * after the cut would shrink the rescore pool below its floor). The
    * candidate scan then reads the predicate's columns beside
    * `(vec_id, codes)`; payload stays unread when `where` is empty.
    */
  def probeIvfPqIndex(
      spark: SparkSession,
      path: String,
      queries: DataFrame,
      id: Column,
      vec: Column,
      k: Int = 10,
      probe: Probe = Nearest(2),
      pool: Int = 50,
      where: Option[Column] = None,
      poolPpm: Option[Long] = None): DataFrame = {
    val meta = manifestOf(path)
    require(meta.pq, s"store at $path was written without PQ codes — " +
      "probe with probeIvfIndex or rebuild with pq = true")
    val cb = readCodebook(spark, path, meta)
    val probed = selectLists(spark, path, meta, queries, id, vec, probe,
      meta.counts.listSizes)
    // residual stores hold codes over v − centroid, so the LUT is
    // per-(query, probed list) over qv − centroid
    val probedLut = Similarity.withLut(probed.relation,
        storedModel(spark, path, meta)._1, cb, meta.pqResidual)
      .select(col("c_id"), col("q_id"), col("lut"))
    val all = prunedLists(spark, path, meta, probed.ids)
    val lists = where.foldLeft(all)(_.filter(_))
    // candidate scan: codes only — the store's vectors are not read here
    val poolRows = Similarity.pqPool(
      lists.select(col("c_id"), col("vec_id"), col("codes"))
        .join(broadcast(probedLut), Seq("c_id"))
        .filter(col("q_id") =!= col("vec_id")),
      Nil, meta.numSubspaces, meta.numCodes, k, pool, probe.poolFloor(k),
      poolPpm)
    // rescore fetch: pool·|queries| rows broadcast back onto the SAME
    // pruned partitions — full vectors are read only for survivors
    // (pool rows already satisfy `where`; re-filtering here would only
    // drag the predicate's payload columns into the vector scan)
    val qv = queries.select(id.as("q_id"), vec.as("qv"),
      Similarity.unitMicros(vec).as("_qu"))
    Similarity.topK(all.select(col("vec_id"), col("v"))
      .join(broadcast(poolRows), Seq("vec_id"))
      .join(broadcast(qv), Seq("q_id"))
      .select(col("q_id"), col("vec_id"),
        Similarity.unitDot(col("_qu"), Similarity.unitMicros(col("v")))
          .as("cos_ud")), k)
  }
}
