package perfbench

/** `medallion`: the paper's own bronze → silver → gold pipeline, then
  * every gold mart through `Viewer.report` and every resource through
  * `Viewer.priceDrilldown`, one caller in a closed loop.
  *
  * Set-up writes the bronze layer (`DataGen.writeBronze`), the pipeline's
  * input. A pass is silver + gold plus one report of each kind; it
  * overwrites its layers in place. `DataGen` is key-hashed and takes no
  * seed, so the seed only orders the reports. After timing, the
  * four marts and the silver fact count are checked against
  * `reference/medallion.json`, and the drill-downs together must equal
  * the price-history mart. */
object MedallionWorkload {
  val Weeks = 26

  def run(ctx: Ctx, out: Outcome): Unit = {
    val s = ctx.spark
    val tr = ctx.trace
    val root = s"${ctx.runDir}/erathia"
    val (bronze, silver, gold) = (s"$root/bronze", s"$root/silver", s"$root/gold")
    import graft.erathia._

    final case class PassRec(pass: Int, span: Int, silver: Double, gold: Double, viewer: Double)
    val recs = scala.collection.mutable.ArrayBuffer.empty[PassRec]
    var factRows = -1L

    val (_, datagenS, _) = ctx.op(out, "datagen", "erathia")(DataGen.writeBronze(s, bronze, Weeks))
    out.setupS = datagenS

    def pass(p: Int): (Double, Int) = {
      var viewer = 0.0
      val (stages, secs, id) = tr.span(s, s"pass$p", "pass") {
        def timed[T](name: String)(body: => T): (Option[T], Double) = {
          val (r, t, _) = ctx.op(out, name, "erathia")(body)
          if (p >= out.firstSteady && r.isDefined) out.steadyOp(name, p, t)
          (r, t)
        }
        val (rows, sv) = timed("silver")(Silver.run(s, bronze, silver))
        rows.foreach(factRows = _)
        val (_, gd) = timed("gold")(Gold.run(s, gold))
        val (names, ls) = timed("resources") {
          (Viewer.listMarts(s), Viewer.resourceNames(s).collect().map(_.getString(0)).toSeq)
        }
        viewer += ls
        val reports = names.toSeq.flatMap { case (marts, resources) =>
          marts.map(m => (s"report:$m", () => Viewer.report(s, m))) ++
            resources.map(r => (s"drill:$r", () => Viewer.priceDrilldown(s, r)))
        }
        ctx.rng.shuffle(reports).foreach { case (name, df) => viewer += timed(name)(ctx.noop(df()))._2 }
        (sv, gd)
      }
      val (sv, gd) = stages
      recs += PassRec(p, id, sv, gd, viewer)
      (secs, id)
    }
    ctx.passes(out)(pass)

    val steady = recs.filter(_.pass >= out.firstSteady).toSeq
    def med(f: PassRec => Double) = Stats.median(steady.map(f))
    out.layers("erathia.datagen_s") = datagenS
    out.layers("erathia.silver_s") = med(_.silver)
    out.layers("erathia.gold_s") = med(_.gold)
    out.layers("erathia.viewer_s") = med(_.viewer)
    out.layers("erathia.bronze_mb") = Files.mb(bronze)
    if (tr.enabled) {
      tr.drain()
      out.layers("erathia.jobs") = med(r => tr.jobsUnder(Set(r.span)).size.toDouble)
    }

    // --- output check (untimed) ---
    val ref = Json.parseFlat(CatalogWorkload.readRef(ctx, "medallion.json"))
    def fp(name: String)(df: => org.apache.spark.sql.DataFrame): (String, String) =
      name -> (try Fingerprint.of(df) catch { case e: Throwable =>
        s"error: ${e.getClass.getName}: ${e.getMessage}" })
    val marts = Seq("dm_faction_economy", "dm_resource_price_history",
      "dm_top_vip_customers", "dm_artifact_sales_summary")
    val got = marts.map(m => fp(m)(s.read.parquet(s"$gold/$m"))) :+
      ("silver_fact_rows" -> factRows.toString)
    got.foreach { case (k, v) =>
      out.check(s"medallion/$k", ref.get(k).contains(v),
        s"got $v, reference ${ref.getOrElse(k, "missing")}")
    }
    val resources = Viewer.resourceNames(s).collect().map(_.getString(0)).toSeq
    val drills = resources.map(Viewer.priceDrilldown(s, _)).reduce(_ unionByName _)
    val history = Viewer.report(s, "dm_resource_price_history")
    out.check("medallion/drilldowns_cover_history",
      Fingerprint.of(drills) == Fingerprint.of(history),
      "the union of the drill-downs differs from dm_resource_price_history")
    out.notes("fingerprints") = Json.obj(got.map { case (k, v) => k -> Json.str(v) })
  }
}
