package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.pipeline._
import scala.util.control.NonFatal
import Timed.timed

/** `mission`: the paper's own pipeline, `AdcpPipeline.shearFromAdcp` then
  * `velocityFromShear`, on a `pipeline.Fixture` fleet keyed by `mission`,
  * with the per-mission heading solve on. The seed sets each mission's time
  * shift. A traced run composes the public stage functions itself and
  * materializes every stage's output in turn, as `StageProfile` does.
  */
object Mission extends Workload {
  val name = "mission"

  val missions = 2
  // the fixture's default mission (1,200 pings); at 3 profiles the
  // velocity stage grids no referenced velocity
  val profiles: Int = Fixture.nProfiles
  private val mCols = Seq("mission")
  private val opts = Fixture.opts
  private val mem = StorageLevel.MEMORY_AND_DISK

  /** The fleet: `missions` copies of the fixture mission, each shifted in
    * time by a seeded offset, so missions never overlap.
    */
  def fleet(spark: SparkSession, seed: Long, cpus: Int): (DataFrame, DataFrame) = {
    val rnd = new scala.util.Random(seed)
    val shifts = (1 to missions).map(m =>
      m -> (m * 10000000000000L + rnd.nextInt(100000) * 1000000000L))
    def tag(df: DataFrame): DataFrame = shifts.map { case (m, s) =>
      df.withColumn("mission", lit(m)).withColumn("time_ns", col("time_ns") + s)
    }.reduce(_.unionByName(_)).repartition(cpus).persist(mem)
    val glider = tag(Fixture.glider(spark, profiles))
    val adcp = tag(Fixture.adcp(spark, profiles))
    glider.count(); adcp.count()
    (glider, adcp)
  }

  /** One stage of the traced composition: its seconds and listener stats. */
  final case class Stage(name: String, stats: WindowStats)

  /** The pipeline rebuilt from its public stages, each stage's output
    * materialized (and its lineage cut) before the next starts.
    */
  def staged(ctx: Ctx, gliderRaw: DataFrame,
      adcpRaw: DataFrame): (DataFrame, DataFrame, Seq[Stage]) = {
    val stages = Seq.newBuilder[Stage]
    def stage[A](n: String)(f: => A): A = {
      val (w, v) = ctx.window(ctx.span(s"pipeline.$n")(f))
      AdcpPipeline.releaseCaches()
      stages += Stage(n, w)
      v
    }
    // materializes a stage's output and cuts its lineage, so that the next
    // stage starts from stored rows
    def cut(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)
    val geo = stage("geomag") {
      val g = GliderStages.applyGeomagPerMission(
        GliderStages.deriveGlider(gliderRaw), opts, mCols)
      g.copy(glider = cut(g.glider))
    }
    val glider = geo.glider
    var a = stage("align") {
      val al = AdcpStages.align(adcpRaw, glider, mCols)
      cut(al.repartition(al.sparkSession.sparkContext.defaultParallelism))
    }
    a = stage("remap_depth")(cut(AdcpStages.remapDepth(geo.opts)(a)))
    a = stage("heading")(cut(
      HeadingCorrection.perMission(geo.opts, geo.targets, mCols)(a)))
    a = stage("soundspeed")(cut(AdcpStages.soundspeedCorrection(a)))
    a = stage("outliers")(cut(AdcpStages.removeOutliers(geo.opts)(a)))
    a = stage("correct_shear")(cut(
      AdcpPipeline.correctShear(geo.opts)(a)))
    a = stage("backscatter")(cut(
      AdcpStages.backscatterCorrection(geo.opts)(a)))
    a = stage("regrid")(cut(AdcpStages.regrid(geo.opts,
      Fixture.cellSize, Fixture.blankingDistance)(a)))
    a = stage("three_beam")(cut(AdcpStages.threeBeamXyz(geo.opts)(a)))
    a = stage("enu_shear")(cut(AdcpStages.enuAndShear(geo.opts)(a)))
    val dac = stage("dac")(cut(GliderStages.getDac(a, glider, mCols)))
    val ax = stage("axes")(GridOutput.axes(dac, opts, mCols))
    val g = stage("grid")(cut(GridOutput.gridData(a, dac, ax)))
    val r = stage("reference")(cut(
      GridOutput.referenceShear(g, ax, opts.yRes)))
    val b = stage("bias")(cut(GridOutput.calcBias(r, ax, ctx.spark)))
    val ds = stage("dataset")(cut(GridOutput.makeDataset(b, ax)))
    ax.release()
    (a, ds, stages.result())
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    var inputs: Option[(DataFrame, DataFrame)] = None
    val setups = (1 to 3).map { _ =>
      inputs.foreach { case (g, a) => g.unpersist(); a.unpersist() }
      val (t, in) = timed(fleet(spark, ctx.seed, ctx.cpus))
      inputs = Some(in)
      t
    }
    val (gliderRaw, adcpRaw) = inputs.get
    val pings = adcpRaw.count()

    val errors = Seq.newBuilder[String]
    def attempt[A](what: String)(f: => A): Option[(Double, A)] =
      try Some(timed(f))
      catch { case NonFatal(e) =>
        errors += s"$what: ${Errors.describe(e)}"
        None
      }
    // the shear output is stored (and its lineage cut) before velocity
    // runs, as when a mission is sheared once and gridded later
    val shear = attempt("shearFromAdcp") {
      val (a, g) = AdcpPipeline.shearFromAdcp(adcpRaw, gliderRaw, opts,
        Fixture.cellSize, Fixture.blankingDistance, solveHeading = true,
        missionCols = mCols)
      (a.localCheckpoint(eager = true), g)
    }
    val velocity = shear.flatMap { case (_, (sheared, gliderOut)) =>
      attempt("velocityFromShear") {
        val (d, ax) = AdcpPipeline.velocityFromShear(sheared, gliderOut,
          opts, None, spark, missionCols = mCols)
        try d.localCheckpoint(eager = true) finally ax.release()
      }
    }
    if (shear.isEmpty)
      errors += "velocityFromShear: not run, shearFromAdcp failed"
    AdcpPipeline.releaseCaches()
    val times = shear.map(_._1).toSeq ++ velocity.map(_._1)
    System.err.println(s"[perfbench] mission shear, velocity: ${times.mkString(", ")} s")

    // a traced run times the staged composition twice, untraced as the
    // reference for the overhead ratio, then traced
    val traced = if (!ctx.traced) None else for {
      (ref, _) <- attempt("staged pipeline")(staged(ctx, gliderRaw, adcpRaw))
      (t, run) <- attempt("traced staged pipeline")(
        ctx.withTracing(ctx.span("pipeline")(staged(ctx, gliderRaw, adcpRaw))))
    } yield (t / ref, run)
    AdcpPipeline.releaseCaches()

    val checks = shear.toSeq.flatMap(s => recoveryChecks(s._2._1)) ++
      velocity.toSeq.flatMap(v => velocityChecks(v._2)) ++
      (for ((_, (a, d, _)) <- traced; (_, (sh, _)) <- shear;
            (_, ds) <- velocity) yield sameChecks(sh, a, ds, d)).toSeq.flatten
    gliderRaw.unpersist(); adcpRaw.unpersist()

    val context = Map[String, Any]("missions" -> missions,
      "profiles_per_mission" -> profiles, "pings" -> pings,
      "shear_s" -> shear.map(_._1), "velocity_s" -> velocity.map(_._1))
    val metrics = if (!ctx.traced) Seq(
        ("setup_s", Stats.median(setups), "s"),
        ("cold_pass_s", times.sum, "s"),
        ("op_geomean_s", Stats.geomean(times), "s"))
      else traced.toSeq.flatMap { case (overhead, (_, _, stages)) =>
        val total = stages.map(_.stats).foldLeft(WindowStats.zero)(_ + _)
        Layers.spark(total) ++ Seq(("trace_overhead", overhead, "ratio")) ++
          stages.flatMap(s => Seq(
            (s"pipeline.${s.name}_s", s.stats.wallS, "s"),
            (s"pipeline.${s.name}_jobs", s.stats.c.jobs.toDouble, "count")))
      }
    Outcome(if (ctx.traced) 4L else 2L, errors.result(), checks, metrics,
      context)
  }

  /** Shear-stage recovery of the fixture's prescribed current, per mission,
    * at the `AdcpPipelineSpec` tolerance (1e-6 m/s).
    */
  def recoveryChecks(adcp: DataFrame): Seq[Check] = {
    lazy val byMission = adcp.select(col("mission"),
        posexplode(arrays_zip(col("bin_depth"), col("e"), col("n"), col("u")))
          .as(Seq("i", "c")))
      .select(col("mission"), col("c.bin_depth").as("z"), col("c.e"),
        col("c.n"), col("c.u"))
      .where(col("e").isNotNull)
      .groupBy("mission").agg(count(lit(1)),
        greatest(max(abs(col("e") - (lit(0.10) + lit(0.002) * col("z")))),
          max(abs(col("n") - (lit(-0.05) + lit(0.001) * col("z")))),
          max(abs(col("u")))))
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    (1 to missions).map { m =>
      Check.run(s"mission $m recovers the fixture current")(
        byMission.get(m).exists { case (n, err) => n > 10000 && err < 1e-6 },
        s"finite cells and max error ${byMission.get(m)}")
    }
  }

  /** Velocity-stage checks of `AdcpPipelineSpec`: finite, bounded
    * referenced velocities per mission, equal across the missions (the
    * same fixture mission, shifted in time).
    */
  def velocityChecks(ds: DataFrame): Seq[Check] = {
    val finite = col("ADCP_E").isNotNull && !isnan(col("ADCP_E"))
    lazy val byMission = ds.groupBy("mission").agg(count(when(finite, 1)),
        greatest(max(abs(col("ADCP_E"))), max(abs(col("ADCP_N")))))
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    val e = (m: Int) => ds.where(col("mission") === m)
      .select(col("xbin"), col("ybin"), col("ADCP_E").as(s"e$m"))
    (1 to missions).map { m =>
      Check.run(s"mission $m grids referenced velocities")(
        byMission.get(m).exists { case (n, mx) => n > 50 && mx < 2.0 },
        s"finite cells and max |velocity| ${byMission.get(m)}")
    } :+ Check.run("missions grid the same velocities")({
      val cmp = e(1).join(e(2), Seq("xbin", "ybin"))
        .where(col("e1").isNotNull && col("e2").isNotNull)
        .agg(count(lit(1)), max(abs(col("e1") - col("e2")))).head()
      cmp.getLong(0) > 50 && cmp.getDouble(1) < 1e-9
    }, "missions 1 and 2 gridded different velocities")
  }

  /** The staged composition must equal the entry points' output. */
  def sameChecks(sheared: DataFrame, staged: DataFrame, ds: DataFrame,
      stagedDs: DataFrame): Seq[Check] = {
    // rows on both sides with a key, rows that joined, largest difference
    def same(x: DataFrame, y: DataFrame, key: Seq[String],
        cols: Seq[String]): Boolean = {
      val keyed = key.map(col(_).isNotNull).reduce(_ && _)
      val l = x.where(keyed).select((key ++ cols).map(col): _*)
      val r = y.where(keyed)
        .select(key.map(col) ++ cols.map(c => col(c).as(s"r_$c")): _*)
      val d = cols.map(c => coalesce(abs(col(c) - col(s"r_$c")),
        when(col(c).isNull === col(s"r_$c").isNull, lit(0.0))
          .otherwise(lit(1.0)))).reduce(greatest(_, _))
      val row = l.join(r, key).agg(count(lit(1)), max(d)).head()
      val n = l.count()
      n == r.count() && row.getLong(0) == n &&
        (row.isNullAt(1) || row.getDouble(1) < 1e-9)
    }
    val flat = (df: DataFrame) => df.select(col("mission"), col("time_ns"),
      posexplode(arrays_zip(col("e"), col("n"), col("sh_e"))).as(Seq("i", "c")))
      .select(col("mission"), col("time_ns"), col("i"), col("c.e").as("e"),
        col("c.n").as("n"), col("c.sh_e").as("sh_e"))
    Seq(
      Check.run("staged shear equals shearFromAdcp")(same(flat(sheared),
        flat(staged), Seq("mission", "time_ns", "i"), Seq("e", "n", "sh_e")),
        "rows or values differ"),
      Check.run("staged velocity equals velocityFromShear")(same(ds, stagedDs,
        Seq("mission", "xbin", "ybin"), Seq("ADCP_E", "ADCP_N")),
        "rows or values differ"))
  }
}
