package graft

import graft.operators.Fidelity

/** Golden tests for the reference-fidelity Delay/Late pipelines on a
  * hand-authored CAA-shaped fixture (edge cases per FIXTURES.md §A:
  * charter filtering, zero-matched filtering, blank line, quote
  * retention, negative-average rounding, A/D bifurcation, multi-row
  * group merge, HAVING suppression). Expected values are derived by
  * hand below with the exact Java semantics. */
class FidelitySpec extends SparkSpec {
  import spark.implicits._

  // 21 columns; only 1(period) 2(airport) 5(airline) 6(A/D) 7(S/C)
  // 8(matched) 12-15(late %s) 16(avg delay) are read.
  private def row(period: String, airport: String, airline: String,
                  ad: String, sc: String, n: Int, p31: Double, p61: Double,
                  p181: Double, p360: Double, avg: Double): String =
    s"01-Jan-2018,$period,$airport,GB,NOWHERE,$airline,$ad,$sc,$n,0,0,0," +
      s"$p31,$p61,$p181,$p360,$avg,0,0,0,0"

  private val fixture = Seq(
    // header row: dies on the S-filter like the reference (col 7 = text)
    "run_date,reporting_period,reporting_airport,origin_destination_country,origin_destination,airline_name,arrival_departure,scheduled_charter,number_flights_matched,actual_flights_unmatched,early_to_15_mins_late_percent,flts_16_to_30_mins_late_percent,flts_31_to_60_mins_late_percent,flts_61_to_180_mins_late_percent,flts_181_to_360_mins_late_percent,more_than_360_mins_late_percent,average_delay_mins,planned_flights_unmatched,previous_year_month_flights_matched,previous_year_month_early_to_15_mins_late_percent,previous_year_month_average_delay",
    // BIRMINGHAM arrivals: round(10*2.5)=25        -> arr (10, 25)
    row("201101", "BIRMINGHAM", "ALPHA AIR", "A", "S", 10, 30, 20, 10, 0, 2.5),
    // BIRMINGHAM departures, negative half: 4*-0.625=-2.5,
    // Math.round(-2.5)=floor(-2.0)=-2 (HALF_UP would say -3) -> dep (4, -2).
    // Late %: 50 -> round(4*0.5)=2 for (ALPHA AIR, 2011).
    row("201101", "BIRMINGHAM", "ALPHA AIR", "D", "S", 4, 50, 0, 0, 0, -0.625),
    // charter row: filtered by F2
    row("201101", "BIRMINGHAM", "ALPHA AIR", "A", "C", 99, 0, 0, 0, 0, 99.0),
    // zero matched: filtered by F3 (string "0")
    row("201101", "HEATHROW", "ALPHA AIR", "D", "S", 0, 0, 0, 0, 0, 50.0),
    // quoted airport with embedded comma: key keeps the quotes;
    // arrivals only -> departures 0/0 = NaN. round(2*1.2)=round(2.4)=2
    "01-Jan-2018,201101,\"LEEDS, BRADFORD\",GB,NOWHERE,BETA JET,A,S,2,0,0,0,10,5,0,0,1.2,0,0,0,0",
    // Late: ALPHA 2011 merges across three airports (BIRMINGHAM dep row
    // above plus these two): (4,2)+(10,6)+(10,4) = (24,12) -> exactly 50%
    //   GATWICK:  late% = 30+20+10+0 = 60 -> round(10*0.6)=6
    //   STANSTED: late% = 25+10+5+0  = 40 -> round(10*0.4)=4
    row("201101", "GATWICK", "ALPHA AIR", "D", "S", 10, 30, 20, 10, 0, 1.0),
    row("201106", "STANSTED", "ALPHA AIR", "D", "S", 10, 25, 10, 5, 0, 1.0),
    // BETA JET 2015: 25% < 50% -> suppressed by HAVING
    row("201512", "GATWICK", "BETA JET", "D", "S", 8, 20, 5, 0, 0, 1.0),
    // blank trailing line: filtered by F1
    "")

  private lazy val lines = spark.createDataset(fixture)

  test("Delay golden output (incl. quote retention, NaN, Math.round)") {
    val got = Fidelity.delay(lines)
      .as[(String, Double, Double)].collect().toSeq
    // BIRMINGHAM: arr 25/10=2.5 ; dep: round(4*-0.625)+round(10*... only
    //   row2 dep: -2, plus GATWICK/STANSTED are different airports.
    // Airports sorted: "LEEDS, BRADFORD" (quote char sorts first),
    //   BIRMINGHAM, GATWICK, HEATHROW(filtered), STANSTED.
    assert(got.map(_._1) == Seq("\"LEEDS, BRADFORD\"", "BIRMINGHAM", "GATWICK", "STANSTED"))
    val byAirport = got.map(r => r._1 -> r).toMap
    assert(byAirport("BIRMINGHAM")._2 == 2.5)
    assert(byAirport("BIRMINGHAM")._3 == -0.5) // -2/4, proves floor(x+0.5)
    assert(byAirport("\"LEEDS, BRADFORD\"")._2 == 1.0)
    assert(byAirport("\"LEEDS, BRADFORD\"")._3.isNaN) // 0/0: no departures
    assert(byAirport("GATWICK")._2.isNaN) // arrivals 0/0
    assert(byAirport("GATWICK")._3 == 1.0) // round(10*1.0)=10 -> 10/10
    assert(byAirport("STANSTED")._3 == 1.0)
  }

  test("non-A arrival_departure values bucket into departures (else branch)") {
    // reference Delay.java:75-96 branches if(flag=="A") arr else dep —
    // an unexpected flag like "X" is a departure, not a dropped row
    val l = spark.createDataset(Seq(
      row("201101", "LUTON", "GAMMA", "X", "S", 10, 0, 0, 0, 0, 2.0), // dep (10, 20)
      row("201101", "LUTON", "GAMMA", "A", "S", 5, 0, 0, 0, 0, 1.0))) // arr (5, 5)
    val got = Fidelity.delay(l).as[(String, Double, Double)].collect().toSeq
    assert(got == Seq(("LUTON", 1.0, 2.0)))
  }

  test("Late output order is composite Text key 'airline,year' byte order") {
    // ' ' (0x20) < ',' (0x2C): the longer name sorts FIRST under the
    // reference's single-Text-key shuffle sort; (airline, year) column
    // order would put the prefix first.
    val l = spark.createDataset(Seq(
      row("201101", "X", "THOMAS COOK AIRLINES", "D", "S", 10, 100, 0, 0, 0, 9.0),
      row("201101", "X", "THOMAS COOK AIRLINES SCANDINAVIA", "D", "S", 10, 100, 0, 0, 0, 9.0)))
    val got = Fidelity.late(l).as[(String, String, Double)].collect().toSeq
    assert(got.map(_._1) ==
      Seq("THOMAS COOK AIRLINES SCANDINAVIA", "THOMAS COOK AIRLINES"))
  }

  test("Late golden output (merge across airports, HAVING threshold)") {
    val got = Fidelity.late(lines).as[(String, String, Double)].collect().toSeq
    // ALPHA AIR 2011: (24, 2+6+4=12) -> exactly 50% (boundary kept, >= 0.5)
    // BETA JET 2015: (8, round(8*0.25)=2) -> 25% suppressed
    assert(got == Seq(("ALPHA AIR", "2011", 50.0)))
  }

  test("each job parses only the fields the reference job reads") {
    // Delay never reads fields 12-15, Late never reads field 16, and Late
    // reads no number of an arrival row (SURVEY §1.2): a malformed value
    // there must not kill the job, as it would not kill the reference's
    def bad(r: String, field: Int, v: String): String =
      r.split(",", -1).updated(field, v).mkString(",")
    val dep = row("201101", "LUTON", "GAMMA", "D", "S", 10, 40, 10, 0, 0, 2.0)
    val arr = row("201101", "LUTON", "GAMMA", "A", "S", 5, 0, 0, 0, 0, 1.0)
    val delayIn = spark.createDataset(Seq(bad(dep, 13, "n/a"), arr))
    assert(Fidelity.delay(delayIn).as[(String, Double, Double)].collect().toSeq ==
      Seq(("LUTON", 1.0, 2.0)))
    for (lateIn <- Seq(Seq(bad(dep, 16, "n/a")), Seq(dep, bad(bad(arr, 8, "n/a"), 12, "n/a"))))
      assert(Fidelity.late(spark.createDataset(lateIn)).as[(String, String, Double)]
        .collect().toSeq == Seq(("GAMMA", "2011", 50.0)), lateIn)
  }
}
