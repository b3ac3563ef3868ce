package perfbench

import graft.etl.Sources

/** Self-tests of the benchmark's own parts: seeded generators are
  * deterministic, the `jdbc:sqlite:` shim round-trips the recorder, and the
  * backfill output check catches a stub that loses one line. */
object SelfTest {
  def run(ctx: Ctx): Int = {
    val results = Seq(
      "recorder generator: same seed same bytes, other seed other bytes" -> {
        def d(s: Long) = Recorder.generate(s, 2000, 50, 200, 5, 24).digest
        d(ctx.seed) == d(ctx.seed) && d(ctx.seed) != d(ctx.seed + 1)
      },
      "sample generator: same seed same bytes, other seed other bytes" -> {
        def d(s: Long) = Samples.generate(s, 20, 50).digest
        d(ctx.seed) == d(ctx.seed) && d(ctx.seed) != d(ctx.seed + 1)
      },
      "sqlite shim: recorder rows read back through jdbc:sqlite: equal the generated rows" -> {
        val rec = Recorder.generate(ctx.seed, 2000, 50, 200, 5, 24)
        val dir = ctx.work.resolve("selftest-recorder")
        rec.seedDerby(dir)
        try {
          val f = rec.frames(ctx.spark)
          Seq("states" -> f.states, "states_meta" -> f.meta,
            "state_attributes" -> f.attrs, "statistics" -> f.stats,
            "statistics_meta" -> f.statsMeta).forall { case (t, df) =>
            val got = Sources.sqliteJdbc(ctx.spark, dir.toString, t)
            got.schema.map(_.dataType) == df.schema.map(_.dataType) &&
              got.exceptAll(df).isEmpty && df.exceptAll(got).isEmpty
          }
        } finally { Recorder.shutdownDerby(dir); Host.removeTree(dir) }
      },
      "backfill check: passes on an honest stub, fails when the stub drops one line" -> {
        def ok(drop: Boolean) = {
          val w = new BackfillWorkload(ctx, 0.05, dropFirstLine = drop)
          try {
            w.load()
            val r = w.op(1)
            if (!r.ok) println(s"selftest backfill check (drop=$drop): ${r.detail}")
            r.ok
          } finally w.close()
        }
        ok(drop = false) && !ok(drop = true)
      })
    results.foreach { case (name, pass) =>
      println(s"selftest ${if (pass) "ok  " else "FAIL"} $name") }
    if (results.forall(_._2)) 0 else 1
  }
}
