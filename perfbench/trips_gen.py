"""Seeded taxi-trip CSV generator with every dirty-data class planted.

The file mirrors the reference sample's shape: 18 named columns in a
shuffled order, extra columns, header names in mixed case with padding,
and two repeated header names whose later columns hold junk (the first
occurrence binds). Each data row is one of:

- a valid trip, optionally with whitespace-padded values;
- a valid trip at an ambiguous fall-back wall time (11/01/2020 1:xx AM);
- a planted duplicate: a later row repeating an earlier valid row's
  (pickup, dropoff, passenger_count) with other columns changed;
- a parse-stage defect: negative fare, empty passenger_count together
  with an empty flag, or passenger_count outside 0-255;
- a normalize-stage defect: a pickup in the spring-forward gap, a flag
  outside {N, Y}, or dropoff before pickup. These count in both
  ParsedRows and InvalidRows.

Negative fares, empty passenger_count plus flag, and duplicates come at
the rates measured on the reference sample; every other kind, and the
blank or whitespace-only lines scattered between rows, at a small fixed
count per file.

Every pickup wall time is distinct, and wall time to UTC is one-to-one
outside the gap, so no two keys collide unless a duplicate was planted. The six
counters and the duplicates' line numbers are therefore known by
construction and returned by ``generate``.
"""

from __future__ import annotations

import datetime as dt
import random

REQUIRED = [
    "tpep_pickup_datetime",
    "tpep_dropoff_datetime",
    "passenger_count",
    "trip_distance",
    "store_and_fwd_flag",
    "PULocationID",
    "DOLocationID",
    "fare_amount",
    "tip_amount",
]
EXTRA = [
    "VendorID",
    "RatecodeID",
    "payment_type",
    "extra",
    "mta_tax",
    "tolls_amount",
    "improvement_surcharge",
    "total_amount",
    "congestion_surcharge",
]
# repeated header names; their later columns carry values that would
# invalidate every row if they were bound
JUNK = {"fare_amount": "-1.00", "passenger_count": "999"}

PARSE_DEFECTS = ("negative_fare", "empty_pax_and_flag", "pax_out_of_range")
NORMALIZE_DEFECTS = ("dst_gap", "bad_flag", "dropoff_before_pickup")

# share of data rows of each kind the reference sample holds at a
# measured rate: 96, 49 and 15 of its 30,000 rows (FIXTURES.md F1)
SAMPLE_SHARES = {
    "negative_fare": 96 / 30_000,
    "empty_pax_and_flag": 49 / 30_000,
    "duplicate": 15 / 30_000,
}
# kinds with no measured rate: a fixed count per file, enough to
# exercise each; the rest of the rows are plain valid rows
FIXED_COUNTS = {
    "pax_out_of_range": 10,
    "dst_gap": 10,
    "bad_flag": 10,
    "dropoff_before_pickup": 10,
    "ambiguous": 10,
    "padded": 10,
}
BLANK_LINES = 10

_YEAR_START = dt.datetime(2020, 1, 1)
_YEAR_SECONDS = 366 * 86_400 - 4 * 3_600  # stay inside 2020 after the trip
_GAP = (dt.datetime(2020, 3, 8, 2), dt.datetime(2020, 3, 8, 3))
_AMBIGUOUS_HOUR = dt.datetime(2020, 11, 1, 1)


def _fmt(t: dt.datetime) -> str:
    hour = t.hour % 12 or 12
    ampm = "AM" if t.hour < 12 else "PM"
    return f"{t.month:02d}/{t.day:02d}/{t.year} {hour}:{t.minute:02d}:{t.second:02d} {ampm}"


def _in_gap(t: dt.datetime) -> bool:
    return _GAP[0] <= t < _GAP[1]


def _header(rng: random.Random) -> list[str]:
    cols = REQUIRED + EXTRA
    rng.shuffle(cols)
    for name in JUNK:  # the junk copy always comes after the real column
        cols.insert(rng.randint(cols.index(name) + 1, len(cols)), name)
    return cols


def _render_name(rng: random.Random, name: str) -> str:
    roll = rng.random()
    if roll < 0.2:
        return name.upper()
    if roll < 0.4:
        return f" {name.lower()} "
    return name


def _valid_fields(rng: random.Random, pickup: dt.datetime) -> dict[str, str]:
    dropoff = pickup + dt.timedelta(seconds=rng.randint(60, 3_600))
    if _in_gap(dropoff):
        dropoff = _GAP[1] + dt.timedelta(seconds=rng.randint(0, 600))
    fare = rng.randint(250, 9_000) / 100
    return {
        "tpep_pickup_datetime": _fmt(pickup),
        "tpep_dropoff_datetime": _fmt(dropoff),
        "passenger_count": str(rng.randint(0, 6)),
        "trip_distance": f"{rng.randint(0, 30_000) / 1000:.2f}",
        "store_and_fwd_flag": "N" if rng.random() < 0.95 else "Y",
        "PULocationID": str(rng.randint(1, 265)),
        "DOLocationID": str(rng.randint(1, 265)),
        "fare_amount": f"{fare:.2f}",
        "tip_amount": f"{rng.randint(0, 2_000) / 100:.2f}",
        "VendorID": str(rng.randint(1, 2)),
        "RatecodeID": "1",
        "payment_type": str(rng.randint(1, 4)),
        "extra": "0.5",
        "mta_tax": "0.5",
        "tolls_amount": "0",
        "improvement_surcharge": "0.3",
        "total_amount": f"{fare + 1.3:.2f}",
        "congestion_surcharge": "2.5",
    }


def _pickups(rng: random.Random, n: int) -> list[dt.datetime]:
    """``n`` distinct whole-second wall times in 2020, none in the gap
    and none in the ambiguous hour, whose times are drawn separately."""
    ambiguous_end = _AMBIGUOUS_HOUR + dt.timedelta(hours=1)
    out = []
    for off in rng.sample(range(_YEAR_SECONDS), n + n // 100 + 10):
        t = _YEAR_START + dt.timedelta(seconds=off)
        if not _in_gap(t) and not _AMBIGUOUS_HOUR <= t < ambiguous_end:
            out.append(t)
    return out[:n]


def _kinds(rng: random.Random, n: int) -> list[str]:
    kinds = []
    for kind, share in SAMPLE_SHARES.items():
        kinds += [kind] * max(1, round(n * share))
    for kind, count in FIXED_COUNTS.items():
        kinds += [kind] * count
    kinds += ["valid"] * (n - len(kinds))
    rng.shuffle(kinds)
    # a duplicate needs an earlier valid row to repeat
    first_valid = kinds.index("valid")
    for i in range(first_valid):
        if kinds[i] == "duplicate":
            kinds[i], kinds[first_valid] = kinds[first_valid], kinds[i]
            first_valid = i
    return kinds


def generate(path: str, seed: int, n_rows: int) -> dict:
    """Write the CSV; return its expected counters and planted duplicates.

    ``counters`` holds the pipeline's six counters, ``duplicate_lines``
    the 1-based data-row numbers of the planted later occurrences, and
    ``data_rows``/``bytes`` the file's size.
    """
    rng = random.Random(seed)
    header = _header(rng)
    kinds = _kinds(rng, n_rows)
    pickups = iter(_pickups(rng, n_rows))
    ambiguous = iter(
        _AMBIGUOUS_HOUR + dt.timedelta(seconds=s)
        for s in rng.sample(range(3_600), sum(k == "ambiguous" for k in kinds))
    )

    blank_after = set(rng.sample(range(1, n_rows + 1), BLANK_LINES))

    counts = {k: 0 for k in (*SAMPLE_SHARES, *FIXED_COUNTS)}
    keys: list[tuple[str, str, str]] = []  # key strings of valid rows so far
    dup_lines: list[int] = []
    lines = [",".join(_render_name(rng, c) for c in header)]
    for line_no, kind in enumerate(kinds, start=1):
        if kind == "ambiguous":
            fields = _valid_fields(rng, next(ambiguous))
        else:
            fields = _valid_fields(rng, next(pickups))
        if kind == "duplicate":
            pick, drop, pax = keys[rng.randrange(len(keys))]
            fields["tpep_pickup_datetime"] = pick
            fields["tpep_dropoff_datetime"] = drop
            fields["passenger_count"] = pax if rng.random() < 0.5 else f" {pax} "
            dup_lines.append(line_no)
        elif kind == "padded":
            for c in ("passenger_count", "fare_amount", "PULocationID"):
                fields[c] = f" {fields[c]} "
            fields["store_and_fwd_flag"] = f" {fields['store_and_fwd_flag'].lower()} "
        elif kind == "negative_fare":
            fields["fare_amount"] = f"-{fields['fare_amount']}"
        elif kind == "empty_pax_and_flag":
            fields["passenger_count"] = ""
            fields["store_and_fwd_flag"] = ""
        elif kind == "pax_out_of_range":
            fields["passenger_count"] = rng.choice(["256", "-1"])
        elif kind == "dst_gap":
            t = _GAP[0] + dt.timedelta(seconds=rng.randrange(3_600))
            fields["tpep_pickup_datetime"] = _fmt(t)
            fields["tpep_dropoff_datetime"] = _fmt(_GAP[1] + dt.timedelta(seconds=rng.randint(60, 600)))
        elif kind == "bad_flag":
            fields["store_and_fwd_flag"] = rng.choice(["X", "Q", "YES"])
        elif kind == "dropoff_before_pickup":
            fields["tpep_pickup_datetime"], fields["tpep_dropoff_datetime"] = (
                fields["tpep_dropoff_datetime"],
                fields["tpep_pickup_datetime"],
            )
        if kind in ("valid", "padded", "ambiguous"):
            keys.append(
                (
                    fields["tpep_pickup_datetime"],
                    fields["tpep_dropoff_datetime"],
                    fields["passenger_count"].strip(),
                )
            )
        counts[kind] = counts.get(kind, 0) + 1
        seen: set[str] = set()
        row = []
        for c in header:
            row.append(JUNK[c] if c in seen else fields[c])
            seen.add(c)
        lines.append(",".join(row))
        if line_no in blank_after:
            lines.append(rng.choice(["", "   "]))

    text = "\n".join(lines) + "\n"
    with open(path, "w") as f:
        f.write(text)

    total = n_rows
    parse_invalid = sum(counts[k] for k in PARSE_DEFECTS)
    invalid = parse_invalid + sum(counts[k] for k in NORMALIZE_DEFECTS)
    dups = counts["duplicate"]
    return {
        "counters": {
            "TotalRowsRead": total,
            "ParsedRows": total - parse_invalid,
            "InvalidRows": invalid,
            "DuplicateRows": dups,
            "InsertedRows": total - invalid - dups,
            "DuplicatesFileRows": dups,
        },
        "duplicate_lines": dup_lines,
        "data_rows": total,
        "bytes": len(text.encode()),
    }
