#!/usr/bin/env python3
"""Seeded flight-schedule inputs for the flight_ingest workload, plus the
independent model the run's outputs are checked against.

Writes into <outdir>:
  airports.csv          airports dimension (Sources.airportsSchema)
  schedule.csv          E1 extract (Sources.scheduleSchema): recurring
                        schedules with deliberate rejects, freight and
                        positioning rows, and overnight arrivals
  amend_NN.csv          E2 reload extract for reload window NN: the feed's
                        re-send of every schedule touching the window, after
                        cancellations, retimes and new flights
  model.json            expected counts, derived here in plain Python from
                        the rows above (no Spark): landed and reject counts
                        of the import, and per reload window the window row
                        count, table total, rows rewritten and the
                        flights of one looked-up departure airport

Usage: python3 perfbench/gen_flight.py <seed> <outdir>

The model mirrors the pipeline's documented semantics: validate (reject
reasons), passengerOnly (seats > 0, distinct endpoints), Monday-first day
flags over the inclusive validity range, dep_utc = local departure minus
the UTC variance, and the upsert rule (inside the window the re-sent
instances replace the table's, outside it the table is kept).
"""
import csv
import datetime as dt
import json
import math
import os
import random
import sys

D0 = dt.date(2025, 1, 6)          # a Monday; the schedule horizon starts here
HORIZON_DAYS = 28
N_SCHEDULES = 1500
N_AIRPORTS = 120
CYCLES = 6                        # reload windows
WINDOW_DAYS = 3
EPOCH = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)
DAY_US = 86_400_000_000

SCHEDULE_COLS = [
    "carrier", "flightnumber", "effectiveDate", "discontinuedDate",
    "day1", "day2", "day3", "day4", "day5", "day6", "day7",
    "departureAirport", "arrivalAirport", "departureTimeLocal",
    "arrivalTimeLocal", "departureUTCVariance", "arrivalUTCVariance",
    "arrivalDayIndicator", "stops", "firstSeats", "businessSeats",
    "economySeats", "totalSeats", "aircraftType", "distanceMiles"]
AIRPORT_COLS = ["iata", "name", "city", "state", "countryCode",
                "countryName", "globalRegion", "wac", "longitude", "latitude"]


def window(k):
    """UTC day range [w0, w1) of reload window k (1-based), as day offsets."""
    w0 = 2 + 2 * (k - 1)
    return w0, w0 + WINDOW_DAYS


def us_of(day: dt.date, hhmm: str) -> int:
    h, m = map(int, hhmm.split(":"))
    t = dt.datetime(day.year, day.month, day.day, h, m, tzinfo=dt.timezone.utc)
    return (t - EPOCH) // dt.timedelta(microseconds=1)


def airports(rng):
    codes = set()
    while len(codes) < N_AIRPORTS:
        codes.add("".join(rng.choice("ABCDEFGHIJKLMNOPQRSTUVWXYZ") for _ in range(3)))
    out = []
    for i, c in enumerate(sorted(codes)):
        out.append({
            "iata": c, "name": f"{c} International", "city": f"City {c}",
            "state": "", "countryCode": f"C{i % 30:02d}",
            "countryName": f"Country {i % 30}",
            "globalRegion": ["AF", "AS", "EU", "NA", "OC", "SA"][i % 6],
            "wac": 100 + i,
            # whole-hour UTC offsets within (-12h, +12h): the local
            # departure date then stays within a day of the UTC date
            "utc_off_h": rng.randint(-10, 11),
            "longitude": round(rng.uniform(-179, 179), 4),
            "latitude": round(rng.uniform(-60, 70), 4)})
    return out


def miles(a, b):
    la1, lo1, la2, lo2 = map(math.radians,
                             (a["latitude"], a["longitude"], b["latitude"], b["longitude"]))
    h = (math.sin((la2 - la1) / 2) ** 2 +
         math.cos(la1) * math.cos(la2) * math.sin((lo2 - lo1) / 2) ** 2)
    return 3958.8 * 2 * math.asin(math.sqrt(min(1.0, h)))


class Gen:
    def __init__(self, seed):
        self.rng = random.Random(seed)
        self.aps = airports(self.rng)
        self.next_fn = {}

    def fresh_key(self):
        carrier = f"{self.rng.choice('ABCDEFGHJKLMNPQRSTUVWXYZ')}{self.rng.randint(1, 9)}"
        fn = self.next_fn.get(carrier, self.rng.randint(10, 99)) + self.rng.randint(1, 7)
        self.next_fn[carrier] = fn
        return carrier, fn

    def schedule(self, start_lo, start_hi):
        rng = self.rng
        carrier, fn = self.fresh_key()
        dep, arr = rng.sample(self.aps, 2)
        eff = rng.randint(start_lo, start_hi)
        dis = min(HORIZON_DAYS - 1, eff + rng.randint(0, 20))
        flags = [rng.random() < 0.7 for _ in range(7)]
        if not any(flags):
            flags[rng.randrange(7)] = True
        # one in eight departs late in the evening on a long leg, so the
        # arrival lands on the next local day (arrivalDayIndicator 1)
        late = rng.random() < 0.125
        dep_min = rng.randint(20 * 60, 23 * 60 + 30) if late else rng.randint(5 * 60, 19 * 60)
        dur = rng.randint(240, 600) if late else rng.randint(45, 300)
        r = {"carrier": carrier, "flightnumber": fn, "eff": eff, "dis": dis,
             "flags": flags, "dep": dep, "arr": arr, "dep_min": dep_min,
             "dur": dur, "stops": rng.choice([0, 0, 0, 1]),
             "seats": (rng.choice([0, 8, 12]), rng.choice([0, 20, 30]),
                       rng.randint(60, 250)),
             "aircraft": rng.choice(["320", "321", "738", "73H", "77W", "E90"]),
             "kind": "ok"}
        u = rng.random()
        if u < 0.04:
            r["kind"] = "freight"          # no seats: dropped by passengerOnly
            r["seats"] = (0, 0, 0)
        elif u < 0.05:
            r["kind"] = "positioning"      # same endpoints: dropped too
            r["arr"] = dep
        return r

    def reject(self):
        """A row validate() rejects, one of its four reasons."""
        r = self.schedule(0, HORIZON_DAYS - 1)
        reason = self.rng.randrange(4)
        r["kind"] = ["missing_key", "inverted_range", "missing_airport",
                     "negative_seats"][reason]
        if reason == 1:
            r["eff"], r["dis"] = max(r["eff"], r["dis"]) + 1, min(r["eff"], r["dis"])
        return r


def csv_row(r):
    dep, arr = r["dep"], r["arr"]
    arr_total = r["dep_min"] + r["dur"] + 60 * (arr["utc_off_h"] - dep["utc_off_h"])
    day_ind = arr_total // 1440
    arr_min = arr_total % 1440
    first, bus, eco = r["seats"]
    total = -5 if r["kind"] == "negative_seats" else first + bus + eco
    row = {
        "carrier": "" if r["kind"] == "missing_key" else r["carrier"],
        "flightnumber": r["flightnumber"],
        "effectiveDate": (D0 + dt.timedelta(days=r["eff"])).isoformat(),
        "discontinuedDate": (D0 + dt.timedelta(days=r["dis"])).isoformat(),
        "departureAirport": dep["iata"],
        "arrivalAirport": "" if r["kind"] == "missing_airport" else arr["iata"],
        "departureTimeLocal": f"{r['dep_min'] // 60:02d}:{r['dep_min'] % 60:02d}",
        "arrivalTimeLocal": f"{arr_min // 60:02d}:{arr_min % 60:02d}",
        "departureUTCVariance": dep["utc_off_h"] * 60,
        "arrivalUTCVariance": arr["utc_off_h"] * 60,
        "arrivalDayIndicator": day_ind, "stops": r["stops"],
        "firstSeats": first, "businessSeats": bus, "economySeats": eco,
        "totalSeats": total, "aircraftType": r["aircraft"],
        "distanceMiles": round(miles(dep, arr)) if dep is not arr else 0}
    for i in range(7):
        row[f"day{i + 1}"] = "true" if r["flags"][i] else "false"
    return row


def instances(rows):
    """Natural keys (carrier, flightnumber, departureAirport, dep_utc_us) of
    the landed flight instances: valid passenger rows expanded over their
    Monday-first day flags."""
    out = set()
    for r in rows:
        if r["kind"] != "ok":
            continue
        hhmm = f"{r['dep_min'] // 60:02d}:{r['dep_min'] % 60:02d}"
        for d in range(r["eff"], r["dis"] + 1):
            day = D0 + dt.timedelta(days=d)
            if r["flags"][day.weekday()]:
                dep_utc = us_of(day, hhmm) - r["dep"]["utc_off_h"] * 3_600_000_000
                out.add((r["carrier"], r["flightnumber"], r["dep"]["iata"], dep_utc,
                         day.isoformat()))
    return out


def write_csv(path, cols, rows):
    with open(path, "w", newline="") as f:
        w = csv.DictWriter(f, fieldnames=cols, extrasaction="ignore")
        w.writeheader()
        for r in rows:
            w.writerow(r)


def main(seed: int, out: str) -> None:
    os.makedirs(out, exist_ok=True)
    g = Gen(seed)
    write_csv(f"{out}/airports.csv", AIRPORT_COLS, g.aps)
    current = [g.schedule(0, HORIZON_DAYS - 8) for _ in range(N_SCHEDULES)]
    rejects = [g.reject() for _ in range(N_SCHEDULES * 3 // 100)]
    extract = current + rejects
    g.rng.shuffle(extract)
    write_csv(f"{out}/schedule.csv", SCHEDULE_COLS, [csv_row(r) for r in extract])

    live = instances(current)
    model = {"seed": seed, "landed": len(live), "rejects": len(rejects),
             "cycles": []}
    for k in range(1, CYCLES + 1):
        w0, w1 = window(k)
        w0_us = (us_of(D0, "00:00") + w0 * DAY_US)
        w1_us = (us_of(D0, "00:00") + w1 * DAY_US)
        # the feed's amendments since the last send: cancellations,
        # retimes (a new departure time is a new natural key) and new
        # flights, applied to the current schedule set
        nxt = []
        for r in current:
            u = g.rng.random()
            if u < 0.06:
                continue
            if u < 0.14:
                r = dict(r, dep_min=max(0, min(23 * 60 + 59,
                                               r["dep_min"] + g.rng.choice([-90, -45, 30, 75]))))
            nxt.append(r)
        nxt += [g.schedule(max(0, w0 - 3), w0 + 1) for _ in range(40)]
        current = nxt
        # the window extract: every schedule whose validity touches the
        # window's local dates (one day of slack each side), plus a few
        # rows the pipeline must drop
        touching = [r for r in current if r["eff"] <= w1 and r["dis"] >= w0 - 1]
        noise = [g.reject() for _ in range(5)]
        amend = touching + noise
        g.rng.shuffle(amend)
        write_csv(f"{out}/amend_{k:02d}.csv", SCHEDULE_COLS, [csv_row(r) for r in amend])

        parts = [(D0 + dt.timedelta(days=d)).isoformat() for d in range(w0 - 1, w1 + 1)]
        incoming = {x for x in instances(touching) if w0_us <= x[3] < w1_us}
        in_parts = {x for x in live if x[4] in parts}
        kept = {x for x in in_parts if not (w0_us <= x[3] < w1_us)}
        total_before = len(live)
        live = {x for x in live if not (w0_us <= x[3] < w1_us)} | incoming
        lookup = g.rng.choice(g.aps)["iata"]
        model["cycles"].append({
            "k": k, "w0_us": w0_us, "w1_us": w1_us, "parts": parts,
            "lookup_airport": lookup, "lookup_rows": sum(1 for x in live if x[2] == lookup),
            "window_rows": len(incoming), "rewritten_rows": len(kept) + len(incoming),
            "total": len(live), "delta": len(live) - total_before})
    model["final_total"] = len(live)
    with open(f"{out}/model.json", "w") as f:
        json.dump(model, f, indent=1)
    print(f"generated flight seed={seed} at {out}: landed={model['landed']} "
          f"rejects={model['rejects']} final={model['final_total']}")


if __name__ == "__main__":
    main(int(sys.argv[1]), sys.argv[2])
