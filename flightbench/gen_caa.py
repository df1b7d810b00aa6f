"""Seeded generator of UK CAA punctuality CSV plus the expected results of
the paper's `Delay` and `Late` jobs over it.

The files follow the 21-column CAA layout (FIXTURES.md section A): one
file per reporting month, a header line per file, a blank last line,
charter `C` rows, zero-flight rows, space-padded numbers, quoted airline
names that contain commas, and negative half-way average delays (where
Java `Math.round` = floor(x + 0.5) and HALF_UP disagree).

Expected results are computed here, independently of the program under
test, by accumulating over the numbers parsed from the exact text that
was written: every distinct numeric token is parsed once with `float`
and looked up by code.
"""
import math
import os

import numpy as np

HEADER = (
    "run_date,reporting_period,reporting_airport,origin_destination_country,"
    "origin_destination,airline_name,arrival_departure,scheduled_charter,"
    "number_flights_matched,actual_flights_unmatched,"
    "early_to_15_mins_late_percent,flts_16_to_30_mins_late_percent,"
    "flts_31_to_60_mins_late_percent,flts_61_to_180_mins_late_percent,"
    "flts_181_to_360_mins_late_percent,more_than_360_mins_late_percent,"
    "average_delay_mins,planned_flights_unmatched,"
    "previous_year_month_flights_matched,"
    "previous_year_month_early_to_15_mins_late_percent,"
    "previous_year_month_average_delay")

AIRPORTS = [
    "ABERDEEN", "BELFAST CITY", "BELFAST INTERNATIONAL", "BIRMINGHAM",
    "BLACKPOOL", "BOURNEMOUTH", "BRISTOL", "CARDIFF WALES", "DONCASTER SHEFFIELD",
    "DURHAM TEES VALLEY", "EAST MIDLANDS INTERNATIONAL", "EDINBURGH", "EXETER",
    "GATWICK", "GLASGOW", "HEATHROW", "HUMBERSIDE", "INVERNESS", "LEEDS BRADFORD",
    "LIVERPOOL", "LONDON CITY", "LUTON", "MANCHESTER", "NEWCASTLE", "NORWICH",
    "PRESTWICK", "SOUTHAMPTON", "SOUTHEND", "STANSTED",
]
# an airport with departures only: its Delay arrival average is 0/0 = NaN
DEPARTURES_ONLY = "LYDD"

AIRLINES = [
    "AER LINGUS", "AEGEAN AIRLINES", "AIR BALTIC CORPORATION", "AIR EUROPA",
    "AIR FRANCE", "AIR MALTA", "AIR TRANSAT", "ALITALIA", "AURIGNY AIR SERVICES",
    "BMI REGIONAL", "BRITISH AIRWAYS", "BRUSSELS AIRLINES", "CONDOR FLUGDIENST",
    "CROATIA AIRLINES", "EASTERN AIRWAYS", "EASYJET", "EMIRATES", "FLYBE",
    "FINNAIR", "ICELANDAIR", "JET2.COM", "KLM", "LOGANAIR", "LOT POLISH AIRLINES",
    "LUFTHANSA", "LUFTHANSA CITY LINE", "MONARCH AIRLINES", "NORWEGIAN AIR SHUTTLE",
    "RYANAIR", "SAS", "SWISS", "TAP PORTUGAL", "THOMAS COOK AIRLINES",
    "THOMSON AIRWAYS", "TURKISH AIRLINES", "VIRGIN ATLANTIC", "VUELING",
    "WIZZ AIR",
    # quoted names: the CAA dialect keeps the quotes inside the token
    '"WIDEROE, FLYVESELSKAP"', '"SUN-AIR OF SCANDINAVIA, A/S"',
    '"TRANSAVIA, FRANCE"', '"AIR ONE, S.P.A."',
]
COUNTRIES = ["AUSTRIA", "FRANCE", "GERMANY", "IRELAND", "ITALY", "SPAIN",
             "NORWAY", "PORTUGAL", "TURKEY", "USA", "UNITED KINGDOM"]
DESTS = ["INNSBRUCK", "PARIS", "FRANKFURT", "DUBLIN", "ROME", "MALAGA",
         "OSLO", "FARO", "ISTANBUL", "NEW YORK", "JERSEY", "GUERNSEY"]
MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep",
          "Oct", "Nov", "Dec"]

N_FILES = 20
LINES_PER_FILE = 50_000


def java_round(x):
    """Java Math.round as the program computes it: floor(x + 0.5)."""
    return np.floor(x + 0.5).astype(np.int64)


def dec_text(units, scale):
    """Exact decimal text of the integer `units` / `scale` (scale a power
    of ten), trailing zeros stripped: 1250/100 -> "12.5", -625/10000 ->
    "-0.0625", 700/100 -> "7"."""
    sign = "-" if units < 0 else ""
    q, r = divmod(abs(int(units)), scale)
    if r == 0:
        return f"{sign}{q}"
    digits = len(str(scale)) - 1
    return f"{sign}{q}.{str(r).rjust(digits, '0').rstrip('0')}"


def _parsed(codes, scale):
    """Parse the written text of every distinct code once; return the
    texts and the float of each code's text, both indexed like `codes`."""
    uniq, inv = np.unique(codes, return_inverse=True)
    texts = [dec_text(u, scale) for u in uniq.tolist()]
    vals = np.array([float(t) for t in texts], dtype=np.float64)
    return np.array(texts, dtype=object)[inv], vals[inv]


def _month_rows(rng, n, profile):
    """Column arrays for one month's data rows."""
    n_air = len(AIRPORTS)
    airport = rng.integers(0, n_air + 1, n)            # n_air = LYDD
    airline = rng.integers(0, len(AIRLINES), n)
    ad = rng.integers(0, 2, n)                         # 0 = A, 1 = D
    ad[airport == n_air] = 1
    charter = rng.random(n) < 0.08
    flights = rng.integers(1, 400, n)
    flights[rng.random(n) < 0.03] = 0
    # lateness: per-airline profile plus noise, split across the four
    # late buckets (columns 12-15) in hundredths of a percent
    late_share = np.clip(profile[airline] + rng.normal(0.0, 0.08, n), 0.0, 1.0)
    late_total = np.round(late_share * 10000).astype(np.int64)
    w = rng.random((n, 4)) * np.array([8.0, 4.0, 1.0, 0.5])
    w /= w.sum(axis=1, keepdims=True)
    buckets = np.floor(w * late_total[:, None]).astype(np.int64)
    # average delay in 1/10000 minutes: mostly two-decimal values, some
    # negative half-way values x with flights * x = -(k + 0.5)
    avg = rng.integers(-1500, 9000, n) * 100
    half = rng.random(n) < 0.04
    hn = rng.choice(np.array([1, 2, 4, 8]), n)
    hk = rng.integers(0, 30, n)
    flights = np.where(half, hn, flights)
    avg = np.where(half, -(2 * hk + 1) * (10000 // (2 * hn)), avg)
    return airport, airline, ad, charter, flights, buckets, avg


def generate(out_dir, seed, n_files=N_FILES, lines_per_file=LINES_PER_FILE):
    """Write the CSV files under `out_dir` and return the expected job
    results: {"delay": {airport: (arr_avg, dep_avg)},
              "late": {"airline,year": pct}, "lines": int, "bytes": int}."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    profile = rng.uniform(0.05, 0.85, len(AIRLINES))
    start_year = 2009 + int(rng.integers(0, 8))
    airports = np.array(AIRPORTS + [DEPARTURES_ONLY], dtype=object)
    acc_delay = {}   # airport -> [arr_n, arr_sum, dep_n, dep_sum]
    acc_late = {}    # (airline, year) -> [flight_sum, delay_sum]
    total_lines = 0
    total_bytes = 0
    for f in range(n_files):
        year = start_year + f // 12
        month = f % 12 + 1
        period = f"{year}{month:02d}"
        run_date = f"{(f % 27) + 1:02d}-{MONTHS[month - 1]}-{year} 13:31"
        n = lines_per_file
        airport, airline, ad, charter, flights, buckets, avg = \
            _month_rows(rng, n, profile)
        b_txt, b_val = _parsed(buckets.reshape(-1), 100)
        b_txt = b_txt.reshape(n, 4)
        b_val = b_val.reshape(n, 4)
        a_txt, a_val = _parsed(avg, 10000)
        pad = rng.random(n) < 0.3
        country = rng.integers(0, len(COUNTRIES), n)
        dest = rng.integers(0, len(DESTS), n)
        filler = rng.integers(0, 100, (n, 6))

        def text(values):
            return list(map(str, values.tolist()))

        def padded(texts):
            return [f" {t} " if p else t for t, p in zip(texts, pad.tolist())]

        cols = [
            [run_date] * n, [period] * n, airports[airport].tolist(),
            np.array(COUNTRIES, dtype=object)[country].tolist(),
            np.array(DESTS, dtype=object)[dest].tolist(),
            np.array(AIRLINES, dtype=object)[airline].tolist(),
            np.array(["A", "D"], dtype=object)[ad].tolist(),
            np.where(charter, "C", "S").tolist(),
            padded(text(flights)), text(filler[:, 0] % 5), text(filler[:, 1]),
            text(filler[:, 2]),
            b_txt[:, 0].tolist(), b_txt[:, 1].tolist(), b_txt[:, 2].tolist(),
            b_txt[:, 3].tolist(), padded(a_txt.tolist()),
            text(filler[:, 3] % 3), text(filler[:, 4] * 3), text(filler[:, 5]),
            text(filler[:, 5] % 17),
        ]
        body = "\n".join(map(",".join, zip(*cols)))
        data = (HEADER + "\n" + body + "\n\n").encode("ascii")
        with open(os.path.join(out_dir, f"caa_{period}.csv"), "wb") as fh:
            fh.write(data)
        total_lines += n + 2
        total_bytes += len(data)

        accumulate(acc_delay, acc_late, str(year), airports[airport],
                   np.array(AIRLINES, dtype=object)[airline], ad, charter,
                   flights, a_val, b_val)
    return {"delay": delay_results(acc_delay), "late": late_results(acc_late),
            "lines": total_lines, "bytes": total_bytes}


def accumulate(acc_delay, acc_late, year, airport, airline, ad, charter,
               flights, avg, late_buckets):
    """Fold one month's rows into the job accumulators, with the reference
    jobs' semantics: only scheduled (`S`) rows with a nonzero flight count;
    weighted counts by Java `Math.round`; every non-`A` row a departure;
    Late over departures, keyed by (airline, year).

    acc_delay: airport -> [arr_n, arr_sum, dep_n, dep_sum]
    acc_late:  (airline, year) -> [flight_sum, delay_sum]
    ad: 0 for arrivals; avg and late_buckets (n x 4): parsed doubles."""
    ok = (~np.asarray(charter)) & (np.asarray(flights) != 0)
    fl_f = np.asarray(flights).astype(np.float64)
    weighted = java_round(fl_f * avg)
    late_pct = ((late_buckets[:, 0] + late_buckets[:, 1]) + late_buckets[:, 2]) \
        + late_buckets[:, 3]
    late_w = java_round(fl_f * late_pct / 100.0)
    is_arr = np.asarray(ad) == 0
    for ap in sorted(set(airport[ok].tolist())):
        m = ok & (airport == ap)
        acc = acc_delay.setdefault(ap, [0, 0, 0, 0])
        acc[0] += int(flights[m & is_arr].sum())
        acc[1] += int(weighted[m & is_arr].sum())
        acc[2] += int(flights[m & ~is_arr].sum())
        acc[3] += int(weighted[m & ~is_arr].sum())
    dm = ok & ~is_arr
    for al in sorted(set(airline[dm].tolist())):
        m = dm & (airline == al)
        acc = acc_late.setdefault((al, year), [0, 0])
        acc[0] += int(flights[m].sum())
        acc[1] += int(late_w[m].sum())


def delay_results(acc):
    """Delay output per airport from (arr_n, arr_sum, dep_n, dep_sum):
    ratios of integer sums, 0/0 = NaN like Java double division."""
    def ratio(s, n):
        return s / n if n != 0 else math.nan
    return {k: (ratio(v[1], v[0]), ratio(v[3], v[2])) for k, v in acc.items()}


def late_results(acc):
    """Late output per "airline,year" from (flight_sum, delay_sum): kept
    when the ratio is at least 0.5, scaled by 100."""
    out = {}
    for (airline, year), (fs, ds) in acc.items():
        if fs > 0 and ds / fs >= 0.5:
            out[f"{airline},{year}"] = ds / fs * 100
    return out
