package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{SessionArtifacts, Tables}

/** Spatial operators (SURVEY.md §2.3 D/J extension, round 12): the
  * grid-bucketed radius self-join — the geospatial sibling of the banded
  * dedup candidate generators. A training-data pipeline meets this shape
  * whenever records carry coordinates (store/user co-location, crawl
  * geo-dedup, POI conflation): "all pairs within radius R" is quadratic
  * done naively, and the production fix is exactly the LSH discipline —
  * a lossless cell cover generates candidates, an exact predicate
  * confirms.
  *
  * EXACT-INTEGER geometry: coordinates live in integer MICRO-DEGREES and
  * the radius predicate is squared planar distance dx² + dy² ≤ R² in
  * BIGINT (µ°² products ≤ ~10¹⁶, no overflow; the small-radius
  * equirectangular approximation, stated rather than hidden — haversine
  * doubles could never hash-match across engines). Points are staged
  * deterministically from the customer table as jittered clusters around
  * 57 synthetic city centers, all placed inside ±60° lat / ±179° lon so
  * no antimeridian/pole wrap exists BY CONSTRUCTION (the planar contract;
  * a production deployment near ±180° shifts longitudes first).
  *
  * The reference has no spatial surface (its one workload is word count,
  * /root/reference/client/scripts/mapper.py:13); this extends the
  * declared engine surface the way the dedup/simsearch families do.
  */
object Spatial {

  /** Radius in micro-degrees (~550 m in latitude terms) — R² is the
    * exact predicate bound; the CELL size equals R so the 3×3 neighbor
    * cover is lossless (proof in [[radiusJoin]]). */
  val RadiusMicroDeg = 5000L
  val CellMicroDeg = RadiusMicroDeg

  /** Deterministic point staging over the customer table: 57 city
    * centers pseudo-placed from the city id, per-customer jitter of
    * ±10000 µ° around the home center — clusters with real in-radius
    * pairs at every SF, all coordinates exact BIGINT micro-degrees.
    * Mirrored verbatim by the oracle's staging CTE. */
  private[graft] def stagedPoints(customers: DataFrame): DataFrame = {
    val s = customers.sparkSession
    import s.implicits._
    customers.select($"c_custkey".cast("long").as("pid"))
      .withColumn("city", $"pid" % 57L)
      .select($"pid",
        (lit(-60000000L) + ($"city" * 2147483L) % 120000001L
          + ($"pid" * 7919L) % 20001L - 10000L).as("lat"),
        (lit(-179000000L) + ($"city" * 71234567L) % 358000001L
          + ($"pid" * 104729L) % 20001L - 10000L).as("lon"))
  }

  /** All point pairs within [[RadiusMicroDeg]] (canonical pid_a < pid_b,
    * exact squared distance emitted) via the GRID CELL cover:
    *
    *  - home cell = (glat div CELL, glon div CELL) on pole-shifted
    *    non-negative coordinates (truncating `div` ≡ floor there, and ≡
    *    DuckDB `//` — the repo-wide negative-div discipline);
    *  - the probe side replicates each point to its 3×3 cell
    *    neighborhood; candidates meet on a cell EQUI-join — never a
    *    cross join;
    *  - LOSSLESS: |dx| ≤ R and |dy| ≤ R (Chebyshev ⊇ Euclidean ball),
    *    and CELL = R means two coordinates within R sit in the same or
    *    adjacent cells — every qualifying pair survives candidate
    *    generation, so the exact confirm makes the result equal the
    *    quadratic oracle (the ngram prefix-filter losslessness argument
    *    in grid form; planted boundary-pair law in AnalyticsSpec);
    *  - pairs found through multiple shared cells dedup on the pair key
    *    AFTER the cheap integer confirm (candidates are slim 5-long
    *    rows; a pair is confirmed at most 2× before distinct).
    *
    * Scale: the exchange shuffles (pid, lat, lon, cell) ids only — 9×
    * the corpus on the probe side, 1× on the home side; per-cell work is
    * population² within a 3×3 neighborhood, the density the CELL size
    * knob controls at deployment (the DbscanCellCap sizing lever —
    * a pairs CONTRACT is output-quadratic on a dense cell by definition,
    * the dedup_minhash boundary restated). Output is the pair list with
    * its exact d2 — the downstream conflation/dedup verdict input. */
  def radiusJoin(s: SparkSession, d: String): DataFrame =
    radiusJoinOf(stagedPoints(Tables.customer(s, d)))

  /** Core over any (pid, lat, lon) micro-degree frame — the declared
    * query and the planted boundary-pair law both drive this path. */
  private[graft] def radiusJoinOf(pts0: DataFrame): DataFrame = {
    val s = pts0.sparkSession
    import s.implicits._
    val r2 = RadiusMicroDeg * RadiusMicroDeg
    val pts = pts0.select($"pid", $"lat", $"lon",
      expr(s"(lat + 90000000) div $CellMicroDeg").as("cx"),
      expr(s"(lon + 180000000) div $CellMicroDeg").as("cy"))
    val home = pts.select($"pid".as("pid_b"), $"lat".as("lat_b"),
      $"lon".as("lon_b"), $"cx", $"cy")
    val offs = Seq(-1L, 0L, 1L)
    val probe = pts
      .withColumn("dx", explode(array(offs.map(lit(_)): _*)))
      .withColumn("dy", explode(array(offs.map(lit(_)): _*)))
      .select($"pid".as("pid_a"), $"lat".as("lat_a"), $"lon".as("lon_a"),
        ($"cx" + $"dx").as("cx"), ($"cy" + $"dy").as("cy"))
    probe.join(home, Seq("cx", "cy"))
      .where($"pid_a" < $"pid_b")
      .select($"pid_a", $"pid_b",
        (($"lat_a" - $"lat_b") * ($"lat_a" - $"lat_b")
          + ($"lon_a" - $"lon_b") * ($"lon_a" - $"lon_b")).as("d2"))
      .where($"d2" <= r2)
      .distinct()
  }

  /** INGESTION-TIME twin of [[radiusJoin]] (the cross-run incremental
    * discipline of `dedup_incremental`/`dedup_clusters_incremental`
    * applied to geometry): the published corpus's points are a
    * MAINTAINED CELL INDEX (session-materialized parquet — at 100 TB a
    * versioned table bucketed by cell), and an ingest batch asks "which
    * new points collide with published points within R?" by probing
    * ONLY the delta's 3×3 cell neighborhoods against the index —
    * per-batch work ∝ |delta| cells touched, decoupled from the corpus
    * size. The corpus split is content-addressed (md5(pid) mod 100,
    * base < 90 / delta ≥ 90 — the dedup_incremental rule), each cross
    * pair meets EXACTLY once (only the delta side replicates to
    * neighbors; home cells are unique), so no dedup pass exists at all.
    * The oracle is the from-scratch quadratic cross join over the same
    * split — the hash gate IS the incremental ≡ recompute proof — and
    * AnalyticsSpec pins the output against the full [[radiusJoinOf]]
    * run restricted to cross-bucket pairs. */
  def radiusJoinIncremental(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val r2 = RadiusMicroDeg * RadiusMicroDeg
    val pts = stagedPoints(Tables.customer(s, d))
      .withColumn("bkt", Maintenance.md5Hex32Col($"pid") % 100)
      .select($"pid", $"lat", $"lon", $"bkt",
        expr(s"(lat + 90000000) div $CellMicroDeg").as("cx"),
        expr(s"(lon + 180000000) div $CellMicroDeg").as("cy"))
    // maintained base-corpus cell index
    val baseIdx = SessionArtifacts.parquet(s, "spatialidx", d)(
      pts.where($"bkt" < 90)
        .select($"pid".as("base_id"), $"lat".as("lat_b"), $"lon".as("lon_b"),
          $"cx", $"cy"))
    val offs = Seq(-1L, 0L, 1L)
    val probe = pts.where($"bkt" >= 90)
      .withColumn("dx", explode(array(offs.map(lit(_)): _*)))
      .withColumn("dy", explode(array(offs.map(lit(_)): _*)))
      .select($"pid".as("delta_id"), $"lat".as("lat_d"), $"lon".as("lon_d"),
        ($"cx" + $"dx").as("cx"), ($"cy" + $"dy").as("cy"))
    probe.join(baseIdx, Seq("cx", "cy"))
      .select($"base_id", $"delta_id",
        (($"lat_d" - $"lat_b") * ($"lat_d" - $"lat_b")
          + ($"lon_d" - $"lon_b") * ($"lon_d" - $"lon_b")).as("d2"))
      .where($"d2" <= r2)
  }

  /** Population cap on one grid CELL in the LABEL-path candidate
    * generator ([[cappedCandidates]]) — the [[Dedup.MinhashBandCap]]
    * discipline applied to geometry. The regime it targets is the
    * geo-dedup classic: a default-coordinate artifact ((0,0) island), a
    * stadium, or a geocoder that snaps a whole city to one point puts
    * 10⁵–10⁷ records in ONE cell, and an uncapped cell self-join goes
    * quadratic on a single task. An over-cap cell contributes verified
    * STAR edges (cell-min → member, exact d² ≤ R² confirm) instead of
    * its pair set — linear in the cell population — and the star
    * preserves the cell's connectivity EXACTLY whenever members are
    * within R of the cell min, which is precisely the
    * everything-at-one-point regime the cap exists for. Residual
    * contract gap, stated (the [[Dedup.lshCandidatesCapped]] one in
    * grid form): a within-R pair straddling two cells loses its direct
    * edge when either cell is hot and neither cell-min reaches across;
    * AdversarialBoundSpec's planted dense-city law pins labels ≡
    * full-recompute in the hot regime, and the fixture-premise test
    * pins that no testdata cell crosses the cap — the hash gate runs
    * this code where it is bit-identical to the uncapped generator. */
  val SpatialCellCap = 512

  /** Home-cell annotation shared by the capped generator: per point its
    * grid cell, the cell population, and the cell's min member (id +
    * coordinates via one struct-min — the star center). */
  private[graft] def withCellStats(pts0: DataFrame): DataFrame = {
    val s = pts0.sparkSession
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("cx", "cy")
    pts0.select($"pid", $"lat", $"lon",
        expr(s"(lat + 90000000) div $CellMicroDeg").as("cx"),
        expr(s"(lon + 180000000) div $CellMicroDeg").as("cy"))
      .withColumn("pop", count(lit(1)).over(w))
      .withColumn("mns", min(struct($"pid", $"lat", $"lon")).over(w))
  }

  /** Population-capped candidate generator for the LABEL contract
    * ([[clusters]] → `spatial_clusters`): per grid cell,
    *
    *  - cold cell (pop ≤ cap): exactly the [[radiusJoinOf]] candidates —
    *    all same-cell pairs, plus all cross pairs against adjacent cold
    *    cells (each unordered adjacent cell pair enumerated ONCE via the
    *    4-offset half cover);
    *  - hot cell (pop > cap): a STAR from the cell min — (min, member)
    *    for every other member — instead of the pop²/2 same-cell set,
    *    PLUS boundary stars: every neighbor cell's min probes the hot
    *    cell's members, and the hot cell's min probes every neighbor's
    *    members, so two cells with ≥ 1 hot member set exchange
    *    O(pop + pop') star candidates, never pop·pop'.
    *
    * Per-task work is ≤ 9·cap² per cold cell and LINEAR in any hot
    * cell's population — no cell can concentrate super-linear work on
    * one task (the executable per-cell bound theorem lives in
    * AdversarialBoundSpec). Candidates carry both endpoints'
    * coordinates; [[spatialEdges]] confirms d² ≤ R² exactly, so every
    * emitted edge is TRUE — the cap can only omit redundant candidates,
    * never fabricate edges. */
  private[graft] def cappedCandidates(pts0: DataFrame, cap: Int): DataFrame = {
    val s = pts0.sparkSession
    import s.implicits._
    val pts = withCellStats(pts0).localCheckpoint(eager = false)
    val cold = pts.where($"pop" <= cap)
    val hot = pts.where($"pop" > cap)
    def pairCols = Seq(
      col("x.pid").as("pid_a"), col("x.lat").as("lat_a"), col("x.lon").as("lon_a"),
      col("y.pid").as("pid_b"), col("y.lat").as("lat_b"), col("y.lon").as("lon_b"))
    val sameCold = cold.as("x").join(cold.as("y"),
        col("x.cx") === col("y.cx") && col("x.cy") === col("y.cy") &&
          col("x.pid") < col("y.pid"))
      .select(pairCols: _*)
    val sameHot = hot.where($"pid" =!= $"mns.pid")
      .select($"mns.pid".as("pid_a"), $"mns.lat".as("lat_a"), $"mns.lon".as("lon_a"),
        $"pid".as("pid_b"), $"lat".as("lat_b"), $"lon".as("lon_b"))
    val halfOffs = Seq((1L, 0L), (0L, 1L), (1L, 1L), (1L, -1L))
    val probeCold = cold
      .withColumn("o", explode(array(halfOffs.map { case (dx, dy) =>
        struct(lit(dx).as("dx"), lit(dy).as("dy")) }: _*)))
      .select($"pid", $"lat", $"lon",
        ($"cx" + $"o.dx").as("cx"), ($"cy" + $"o.dy").as("cy"))
    val crossCold = probeCold.as("x").join(cold.as("y"),
        col("x.cx") === col("y.cx") && col("x.cy") === col("y.cy"))
      .select(pairCols: _*)
    // one row per cell: its min member + population (for the star probes)
    // mns/pop are cell-constant; min/max (not first) keeps the aggregate
    // deterministic under any partitioning
    val cells = pts.groupBy($"cx", $"cy")
      .agg(min($"mns").as("m"), max($"pop").as("pop"))
      .localCheckpoint(eager = false)
    val allOffs = for { dx <- -1L to 1L; dy <- -1L to 1L
                        if !(dx == 0L && dy == 0L) } yield (dx, dy)
    def probeOf(src: DataFrame) = src
      .withColumn("o", explode(array(allOffs.map { case (dx, dy) =>
        struct(lit(dx).as("dx"), lit(dy).as("dy")) }: _*)))
      .select($"m.pid".as("pid"), $"m.lat".as("lat"), $"m.lon".as("lon"),
        ($"cx" + $"o.dx").as("cx"), ($"cy" + $"o.dy").as("cy"))
    // every cell's min probes hot neighbors' members; hot cells' mins
    // probe ALL neighbors' members — both directions of the boundary star
    val starsIntoHot = probeOf(cells).as("x").join(hot.as("y"),
        col("x.cx") === col("y.cx") && col("x.cy") === col("y.cy"))
      .select(pairCols: _*)
    val starsFromHot = probeOf(cells.where($"pop" > cap)).as("x").join(pts.as("y"),
        col("x.cx") === col("y.cx") && col("x.cy") === col("y.cy"))
      .select(pairCols: _*)
    sameCold.union(sameHot).union(crossCold)
      .union(starsIntoHot).union(starsFromHot)
  }

  /** Verified in-radius EDGE set over the capped candidates: exact
    * BIGINT d² ≤ R² confirm, canonical (a < b), deduped. Every edge is
    * a true within-R pair; at fixture SFs no cell crosses the cap
    * (premise test), so this equals the full [[radiusJoinOf]] pair set
    * and the full-recompute closure oracle is the legitimate gate. */
  private[graft] def spatialEdges(pts0: DataFrame,
      cap: Int = SpatialCellCap): DataFrame = {
    val s = pts0.sparkSession
    import s.implicits._
    val r2 = RadiusMicroDeg * RadiusMicroDeg
    cappedCandidates(pts0, cap)
      .where($"pid_a" =!= $"pid_b" &&
        ($"lat_a" - $"lat_b") * ($"lat_a" - $"lat_b")
          + ($"lon_a" - $"lon_b") * ($"lon_a" - $"lon_b") <= r2)
      .select(least($"pid_a", $"pid_b").as("a"),
        greatest($"pid_a", $"pid_b").as("b"))
      .distinct()
  }

  /** The spatial LABEL CONTRACT (round-12 verdict item 1 — the
    * conflation/cluster verdict, the `dedup_minhash` →
    * `dedup_minhash_clusters` progression in grid form): connected
    * components over the verified in-radius edge set → (pid,
    * cluster_rep = component-min pid). This is the rung that decouples
    * the operator's OUTPUT from the pairs contract's quadratic growth —
    * `join_spatial_radius` emits 42× the pairs at 10× the data
    * (SCALE.md), while the label verdict emits one row per clustered
    * point whatever the local density, and the per-cell star cap keeps
    * the candidate stage linear in any pathological cell's population
    * (the (0,0)-island geo-dedup trap). Oracle: the from-scratch
    * recursive closure over the quadratic radius self-join. */
  def clusters(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Dedup.connectedComponents(spatialEdges(stagedPoints(Tables.customer(s, d))))
      .select($"n".as("pid"), $"l".as("cluster_rep"))
  }

  /** INGESTION-TIME maintenance of the spatial labels (the
    * `dedup_clusters_incremental` discipline applied to geometry —
    * completing the pairs → labels → maintained-labels progression the
    * dedup family walked in rounds 11→12): yesterday's PUBLISHED labels
    * are the star edges of the capped label pipeline run on the base
    * corpus (the same [[spatialEdges]] generator [[clusters]] runs, so
    * base and incremental stay ONE contract), materialized beside a
    * cell index carrying per-cell stats; an ingest batch (content-
    * addressed md5(pid) split, base < 90 / delta ≥ 90) probes ONLY its
    * 3×3 cell neighborhoods:
    *
    *  - cross probes against COLD index cells join all cell members; a
    *    HOT cell (pop > [[SpatialCellCap]]) is probed through its MIN
    *    member only — the delta attaches to the published component by
    *    one verified edge instead of |cell| of them (the
    *    [[Dedup.lshCrossCapped]] attach rule in grid form), so per-batch
    *    cross work ≤ 9·cap + 9 candidates per delta point;
    *  - delta-internal edges come from [[spatialEdges]] on the delta
    *    alone (capped within the batch);
    *  - the CC is FRONTIER-RESTRICTED: only published components
    *    actually touched by a cross/delta edge enter the fixpoint,
    *    untouched labels pass through untouched — batch work ∝
    *    |touched| + |delta edges|, decoupled from the corpus.
    *
    * Oracle: the SAME from-scratch closure as `spatial_clusters` — the
    * hash gate IS the incremental ≡ recompute proof. */
  def clustersIncremental(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val r2 = RadiusMicroDeg * RadiusMicroDeg
    val cap = SpatialCellCap
    val pts = stagedPoints(Tables.customer(s, d))
      .withColumn("bkt", Maintenance.md5Hex32Col($"pid") % 100)
      .localCheckpoint(eager = false) // base staging + delta probes
    val base = pts.where($"bkt" < 90).select($"pid", $"lat", $"lon")
    val dir = SessionArtifacts.materialize(s, "spatialstars", d) { dir =>
      Dedup.connectedComponents(spatialEdges(base))
        .where($"n" =!= $"l") // roots re-derive from the star edges
        .write.mode("overwrite").parquet(s"$dir/stars")
      withCellStats(base)
        .select($"pid".as("base_id"), $"lat".as("lat_b"), $"lon".as("lon_b"),
          $"cx", $"cy", $"pop", $"mns")
        .write.mode("overwrite").parquet(s"$dir/idx")
    }
    val baseStars = SessionArtifacts.read(s, s"$dir/stars") // (n, l), n ≠ l
    val idx = SessionArtifacts.read(s, s"$dir/idx")
    val delta = pts.where($"bkt" >= 90).select($"pid", $"lat", $"lon")
    val newEdges = crossProbeEdges(delta, idx, cap).union(spatialEdges(delta, cap))
      .localCheckpoint(eager = false) // frontier detection + CC input
    // frontier restriction — the minhashClustersIncremental shape
    val ends = newEdges.select($"a".as("n"))
      .union(newEdges.select($"b".as("n"))).distinct()
    val endLabels = broadcast(
      ends.join(baseStars.withColumnRenamed("l", "bl"), Seq("n"), "left")
        .select(coalesce($"bl", $"n").as("l")).distinct()
        .localCheckpoint(eager = false)) // semi + anti probes share it
    val frontierStars = baseStars.join(endLabels, Seq("l"), "left_semi")
    val untouched = baseStars.join(endLabels, Seq("l"), "left_anti")
      .localCheckpoint(eager = false) // member rows + root self-rows
    val cc = Dedup.connectedComponents(
      frontierStars.select($"n".as("a"), $"l".as("b")).union(newEdges))
    cc.select($"n".as("pid"), $"l".as("cluster_rep"))
      .union(untouched.select($"n".as("pid"), $"l".as("cluster_rep")))
      .union(untouched.select($"l", $"l").distinct().toDF("pid", "cluster_rep"))
  }

  /** The capped CROSS probe of [[clustersIncremental]], unit-shaped for
    * the planted law: delta points replicate to their 3×3 neighborhoods
    * and meet the maintained index on a cell equi-join — COLD index
    * cells (pop ≤ cap) expose all members, a HOT cell is probed through
    * its MIN member only (one verified attach edge per delta point, the
    * [[Dedup.lshCrossCapped]] rule) — then the exact d² ≤ R² confirm.
    * Output (a = base_id, b = delta pid). */
  private[graft] def crossProbeEdges(delta: DataFrame, idx: DataFrame,
      cap: Int): DataFrame = {
    val s = delta.sparkSession
    import s.implicits._
    val r2 = RadiusMicroDeg * RadiusMicroDeg
    val offs = Seq(-1L, 0L, 1L)
    val probe = delta
      .withColumn("dx", explode(array(offs.map(lit(_)): _*)))
      .withColumn("dy", explode(array(offs.map(lit(_)): _*)))
      .select($"pid".as("pid_d"), $"lat".as("lat_d"), $"lon".as("lon_d"),
        (expr(s"(lat + 90000000) div $CellMicroDeg") + $"dx").as("cx"),
        (expr(s"(lon + 180000000) div $CellMicroDeg") + $"dy").as("cy"))
    // one disjunctive scan of the index (the branches are disjoint on
    // pop; a filter-union pair scanned the corpus-sized index twice)
    val probeTargets = idx.where($"pop" <= cap || $"base_id" === $"mns.pid")
    probe.join(probeTargets, Seq("cx", "cy"))
      .where(($"lat_d" - $"lat_b") * ($"lat_d" - $"lat_b")
        + ($"lon_d" - $"lon_b") * ($"lon_d" - $"lon_b") <= r2)
      .select($"base_id".as("a"), $"pid_d".as("b"))
  }

  /** Staging CTE shared by the oracle — the engine rule restated in SQL
    * (all-BIGINT arithmetic; DuckDB would overflow 32-bit products). */
  private def stagedPointsSql: String = """
      pts AS MATERIALIZED (
        SELECT CAST(c_custkey AS BIGINT) AS pid,
               -60000000 + (CAST(c_custkey AS BIGINT) % 57) * 2147483 % 120000001
                 + CAST(c_custkey AS BIGINT) * 7919 % 20001 - 10000 AS lat,
               -179000000 + (CAST(c_custkey AS BIGINT) % 57) * 71234567 % 358000001
                 + CAST(c_custkey AS BIGINT) * 104729 % 20001 - 10000 AS lon
        FROM customer)"""

  val oracle: Map[String, String] = Map(
    // the DEFINITION: quadratic self-join under the same exact integer
    // predicate — the grid cover must be invisible in the result
    "join_spatial_radius" -> s"""
      WITH $stagedPointsSql
      SELECT a.pid AS pid_a, b.pid AS pid_b,
             (a.lat - b.lat) * (a.lat - b.lat)
               + (a.lon - b.lon) * (a.lon - b.lon) AS d2
      FROM pts a JOIN pts b ON a.pid < b.pid
      WHERE (a.lat - b.lat) * (a.lat - b.lat)
              + (a.lon - b.lon) * (a.lon - b.lon)
            <= ${RadiusMicroDeg * RadiusMicroDeg}""",

    // the full-recompute closure: quadratic radius self-join → symmetric
    // edges → recursive reachability → component-min labels. The engine's
    // grid cover, cell cap, and CC machinery must be invisible here.
    "spatial_clusters" -> s"""
      WITH RECURSIVE $stagedPointsSql,
      pairs AS MATERIALIZED (
        SELECT a.pid AS pa, b.pid AS pb
        FROM pts a JOIN pts b ON a.pid < b.pid
        WHERE (a.lat - b.lat) * (a.lat - b.lat)
                + (a.lon - b.lon) * (a.lon - b.lon)
              <= ${RadiusMicroDeg * RadiusMicroDeg}),
      edges AS (
        SELECT pa AS a, pb AS b FROM pairs
        UNION SELECT pb, pa FROM pairs),
      nodes AS (SELECT DISTINCT a AS n FROM edges),
      reach(n, l) AS (
        SELECT n, n FROM nodes
        UNION
        SELECT e.b, r.l FROM reach r JOIN edges e ON e.a = r.n)
      SELECT n AS pid, min(l) AS cluster_rep FROM reach GROUP BY n""",

    // the SAME from-scratch closure as spatial_clusters: the engine
    // assembles it from the published star artifact + delta-bounded
    // probes, so the hash gate IS the incremental ≡ recompute proof
    "spatial_clusters_incremental" -> s"""
      WITH RECURSIVE $stagedPointsSql,
      pairs AS MATERIALIZED (
        SELECT a.pid AS pa, b.pid AS pb
        FROM pts a JOIN pts b ON a.pid < b.pid
        WHERE (a.lat - b.lat) * (a.lat - b.lat)
                + (a.lon - b.lon) * (a.lon - b.lon)
              <= ${RadiusMicroDeg * RadiusMicroDeg}),
      edges AS (
        SELECT pa AS a, pb AS b FROM pairs
        UNION SELECT pb, pa FROM pairs),
      nodes AS (SELECT DISTINCT a AS n FROM edges),
      reach(n, l) AS (
        SELECT n, n FROM nodes
        UNION
        SELECT e.b, r.l FROM reach r JOIN edges e ON e.a = r.n)
      SELECT n AS pid, min(l) AS cluster_rep FROM reach GROUP BY n""",

    // the from-scratch recompute over the content-addressed split —
    // the hash gate IS the incremental ≡ recompute proof
    "join_spatial_radius_incremental" -> s"""
      WITH $stagedPointsSql,
      pb AS (SELECT pid, lat, lon,
                    (${Maintenance.md5Hex32Sql("CAST(pid AS VARCHAR)")} % 100) AS bkt
             FROM pts)
      SELECT b.pid AS base_id, d.pid AS delta_id,
             (d.lat - b.lat) * (d.lat - b.lat)
               + (d.lon - b.lon) * (d.lon - b.lon) AS d2
      FROM pb b JOIN pb d ON b.bkt < 90 AND d.bkt >= 90
      WHERE (d.lat - b.lat) * (d.lat - b.lat)
              + (d.lon - b.lon) * (d.lon - b.lon)
            <= ${RadiusMicroDeg * RadiusMicroDeg}""")
}
