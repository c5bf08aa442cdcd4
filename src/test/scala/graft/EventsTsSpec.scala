package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** events.ts has shipped in two physical parquet forms across fixture
  * generations — TIMESTAMP(NANOS) surfacing as raw int64, and native
  * TIMESTAMP(MICROS) without timezone surfacing as TIMESTAMP_NTZ —
  * and `Tables` normalizes both to the same µs TIMESTAMP column
  * (Tables.scala's scaladoc records the history). This spec pins the
  * normalization END TO END, not just at the load: every
  * events-touching catalog query must return identical rows over both
  * physical encodings of the same data, so a fixture regeneration that
  * flips the encoding can never silently shift query results again.
  */
class EventsTsSpec extends SparkSuite {

  test("every events-touching catalog query is identical over both ts encodings") {
    import java.nio.file._
    val src = Paths.get(sf())

    // an sfDir clone: every non-events table hardlinked, events rewritten
    // by `writeEvents` in the encoding under test
    def cloneDir(name: String)(writeEvents: Path => Unit): String = {
      val dir = tmpDir(name)
      scala.util.Using.resource(Files.list(src)) { listing =>
        listing.forEach { p =>
          val f = p.getFileName.toString
          if (f.endsWith(".parquet") && f != "events.parquet")
            Files.createLink(dir.resolve(f), p)
        }
      }
      writeEvents(dir.resolve("events.parquet"))
      dir.toString
    }

    // source of truth: the normalized current-fixture events table
    val ev = Tables(spark, sf(), "events")
    val cols = ev.columns

    // encoding 1: parquet TIMESTAMP(NANOS) → Spark sees raw int64
    val nanosDir = cloneDir("events_nanos") { out =>
      ev.withColumn("ts", expr("unix_micros(ts) * 1000L"))
        .select(cols.head, cols.tail: _*)
        .repartition(1).write.parquet(out.toString)
    }
    // encoding 2: native TIMESTAMP(MICROS) without tz → TIMESTAMP_NTZ
    // (an identity on wall-clock fields under the pinned UTC session)
    val ntzDir = cloneDir("events_ntz") { out =>
      ev.withColumn("ts", col("ts").cast(TimestampNTZType))
        .select(cols.head, cols.tail: _*)
        .repartition(1).write.parquet(out.toString)
    }

    val derived = EventsEntries(spark, sf())
    // the derivation must at minimum rediscover the long-standing core
    // (a refactor of Tables/inputFiles that broke it would empty the list
    // and make the whole spec vacuously green)
    val core = Seq("q09_asof_join", "q32_session_window",
      "q142_event_transitions", "q162_active_users")
    assert(core.forall(derived.contains),
      s"events-query derivation lost known members: ${core.diff(derived)}")

    derived.foreach { name =>
      val q = queries.Catalog.all(name)
      def rows(d: String): Seq[String] =
        q.build(spark, d).collect().map(_.toString).sorted.toSeq
      val (a, b) = (rows(nanosDir), rows(ntzDir))
      assert(a == b, s"$name diverges between int64-nanos and ntz-micros " +
        s"events encodings (first diff: ${a.zip(b).find(p => p._1 != p._2)})")
      assert(a.nonEmpty, s"$name returned no rows — the encoding property is vacuous")
    }
  }
}
