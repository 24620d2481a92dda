"""Seeded generator for a Chicago-shaped dirty crime CSV.

The shape follows the real 2001-2004 extract the paper cleans: 22 string
columns, dates as `MM/dd/yyyy hh:mm:ss a`, a skewed `Primary Type` mix,
~15% NULL/empty Ward and Community Area, and a long-tailed `Location
Description` with well over 100 distinct values. Dirt is planted at known
counts, each kind on its own rows:

  - exact duplicate rows (copies of base rows),
  - embedded header rows (`ID` == "ID"),
  - sentinel nulls ("NULL" or "") in the drop-subset columns,
  - unparseable dates.

A side file records the raw row count, the exact clean row count the
cleaning kernel must keep, and the clean tally of every primary type.

Usage: python3 crime.py <out_dir> <seed> <base_rows>
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv

COLUMNS = ["ID", "Case Number", "Date", "Block", "IUCR", "Primary Type",
           "Description", "Location Description", "Arrest", "Domestic",
           "Beat", "District", "Ward", "Community Area", "FBI Code",
           "X Coordinate", "Y Coordinate", "Year", "Updated On", "Latitude",
           "Longitude", "Location"]
# rows with any of these null are dropped by the cleaning kernel
DROP_SUBSET = ["Location Description", "District", "X Coordinate",
               "Y Coordinate", "Latitude", "Longitude"]

# (type, share in per mille, IUCR, FBI code) - skewed like the real extract
TYPES = [
    ("THEFT", 212, "0820", "06"), ("BATTERY", 182, "0486", "08B"),
    ("CRIMINAL DAMAGE", 113, "1320", "14"), ("NARCOTICS", 104, "1811", "18"),
    ("OTHER OFFENSE", 62, "4625", "26"), ("ASSAULT", 61, "0560", "08A"),
    ("BURGLARY", 58, "0610", "05"), ("MOTOR VEHICLE THEFT", 47, "0910", "07"),
    ("ROBBERY", 38, "031A", "03"), ("DECEPTIVE PRACTICE", 34, "1150", "11"),
    ("CRIMINAL TRESPASS", 29, "1330", "26"), ("PROSTITUTION", 11, "1544",
                                              "16"),
    ("WEAPONS VIOLATION", 10, "143A", "15"),
    ("PUBLIC PEACE VIOLATION", 8, "2820", "24"),
    ("OFFENSE INVOLVING CHILDREN", 7, "1752", "20"),
    ("CRIM SEXUAL ASSAULT", 4, "0261", "02"), ("SEX OFFENSE", 4, "1582",
                                               "17"),
    ("GAMBLING", 3, "1661", "19"), ("LIQUOR LAW VIOLATION", 2, "2230", "22"),
    ("ARSON", 2, "1020", "09"), ("HOMICIDE", 1, "0110", "01A"),
    ("KIDNAPPING", 1, "1790", "20"), ("INTERFERENCE WITH PUBLIC OFFICER", 1,
                                      "3731", "24"),
    ("STALKING", 1, "0580", "26"), ("INTIMIDATION", 1, "3960", "26"),
    ("OBSCENITY", 1, "1537", "26"), ("OTHER NARCOTIC VIOLATION", 1, "2093",
                                     "18"),
    ("PUBLIC INDECENCY", 1, "1585", "26"),
    ("CONCEALED CARRY LICENSE VIOLATION", 1, "1435", "26"),
    ("NON-CRIMINAL", 1, "5114", "26"),
]
DESCRIPTIONS = ["SIMPLE", "$500 AND UNDER", "OVER $500", "TO PROPERTY",
                "DOMESTIC BATTERY SIMPLE", "POSS: CANNABIS 30GMS OR LESS",
                "FORCIBLE ENTRY", "AUTOMOBILE", "ARMED: HANDGUN",
                "TELEPHONE THREAT", "TO VEHICLE", "RETAIL THEFT"]
PLACES = ["STREET", "RESIDENCE", "APARTMENT", "SIDEWALK", "OTHER",
          "PARKING LOT/GARAGE(NON.RESID.)", "ALLEY", "SCHOOL, PUBLIC, BUILDING",
          "RESIDENCE-GARAGE", "RESIDENCE PORCH/HALLWAY", "SMALL RETAIL STORE",
          "RESTAURANT", "GROCERY FOOD STORE", "DEPARTMENT STORE",
          "GAS STATION", "VEHICLE NON-COMMERCIAL", "PARK PROPERTY",
          "COMMERCIAL / BUSINESS OFFICE", "CTA PLATFORM", "CTA TRAIN",
          "CTA BUS", "CTA BUS STOP", "BAR OR TAVERN", "CHURCH/SYNAGOGUE/PLACE OF WORSHIP",
          "HOSPITAL BUILDING/GROUNDS", "HOTEL/MOTEL", "DRUG STORE",
          "BANK", "CURRENCY EXCHANGE", "CONVENIENCE STORE", "ATHLETIC CLUB",
          "LIBRARY", "POLICE FACILITY/VEH PARKING LOT", "AIRPORT/AIRCRAFT",
          "NURSING HOME/RETIREMENT HOME", "CONSTRUCTION SITE",
          "ABANDONED BUILDING", "VACANT LOT/LAND", "WAREHOUSE",
          "FACTORY/MANUFACTURING BUILDING"]
QUALIFIERS = ["", " - INTERIOR", " - EXTERIOR", " - PARKING AREA"]
STREETS = ["STATE ST", "HALSTED ST", "MADISON ST", "ASHLAND AVE",
           "WESTERN AVE", "PULASKI RD", "CICERO AVE", "79TH ST", "63RD ST",
           "CHICAGO AVE", "NORTH AVE", "DIVISION ST", "KEDZIE AVE"]
# 2001-01-01 00:00:00 .. 2004-12-31 23:59:59, in seconds
T_LO = int(np.datetime64("2001-01-01T00:00:00", "s").astype(np.int64))
T_HI = int(np.datetime64("2005-01-01T00:00:00", "s").astype(np.int64))


def location_descriptions():
    """Place x qualifier: 160 distinct values, the plain places first."""
    return [p + q for q in QUALIFIERS for p in PLACES]


def _fmt_dates(secs):
    """MM/dd/yyyy hh:mm:ss a, vectorized over epoch seconds."""
    days = secs.astype("datetime64[s]").astype("datetime64[D]")
    ymd = np.datetime_as_string(days)  # yyyy-mm-dd
    tod = (secs - days.astype("datetime64[s]").astype(np.int64))
    hh, rem = np.divmod(tod, 3600)
    mm, ss = np.divmod(rem, 60)
    h12 = np.where(hh % 12 == 0, 12, hh % 12)
    ampm = np.where(hh < 12, "AM", "PM")
    return [f"{d[5:7]}/{d[8:10]}/{d[0:4]} {a:02d}:{b:02d}:{c:02d} {p}"
            for d, a, b, c, p in zip(ymd.tolist(), h12.tolist(), mm.tolist(),
                                     ss.tolist(), ampm.tolist())]


def generate(out_dir, seed, base_rows):
    rng = np.random.default_rng(seed)
    n = base_rows
    shares = np.array([t[1] for t in TYPES], dtype=np.float64)
    ti = rng.choice(len(TYPES), n, p=shares / shares.sum())
    locs = location_descriptions()
    zipf = 1.0 / np.arange(1, len(locs) + 1) ** 1.1
    secs = rng.integers(T_LO, T_HI, n)
    beat = rng.choice(np.arange(111, 2536), n)
    district = beat // 100
    lat = np.round(rng.uniform(41.644, 42.023, n), 9)
    lon = np.round(rng.uniform(-87.934, -87.524, n), 9)
    ward = rng.integers(1, 51, n).astype(str).astype(object)
    comm = rng.integers(1, 78, n).astype(str).astype(object)
    for col in (ward, comm):  # ~15% missing, half "NULL", half empty
        miss = rng.random(n) < 0.15
        col[miss] = np.where(rng.random(miss.sum()) < 0.5, "NULL", "")
    cols = {
        "ID": (np.arange(n) + 1_000_000).astype(str),
        "Case Number": np.char.add("H", (np.arange(n) + 100_000)
                                   .astype(str)),
        "Date": np.array(_fmt_dates(secs), dtype=object),
        "Block": np.char.add(np.char.add(
            np.char.zfill(rng.integers(0, 120, n).astype(str), 3),
            "XX W "), rng.choice(STREETS, n)),
        "IUCR": np.array([TYPES[i][2] for i in ti]),
        "Primary Type": np.array([TYPES[i][0] for i in ti]),
        "Description": rng.choice(DESCRIPTIONS, n),
        "Location Description": rng.choice(locs, n, p=zipf / zipf.sum())
        .astype(object),
        "Arrest": np.where(rng.random(n) < 0.28, "True", "False"),
        "Domestic": np.where(rng.random(n) < 0.13, "True", "False"),
        "Beat": np.char.zfill(beat.astype(str), 4),
        "District": np.char.zfill(district.astype(str), 3).astype(object),
        "Ward": ward,
        "Community Area": comm,
        "FBI Code": np.array([TYPES[i][3] for i in ti]),
        "X Coordinate": rng.integers(1_100_000, 1_205_000, n).astype(str)
        .astype(object),
        "Y Coordinate": rng.integers(1_813_000, 1_952_000, n).astype(str)
        .astype(object),
        "Year": np.datetime_as_string(
            secs.astype("datetime64[s]").astype("datetime64[Y]")),
        "Updated On": np.full(n, "02/10/2018 03:50:01 PM"),
        "Latitude": lat.astype(str).astype(object),
        "Longitude": lon.astype(str).astype(object),
        "Location": np.char.add(np.char.add(np.char.add(
            "(", lat.astype(str)), ", "), np.char.add(lon.astype(str), ")")),
    }
    # dirt on disjoint row sets: sentinels in a drop-subset column, then
    # unparseable dates
    order = rng.permutation(n)
    n_sentinel = n // 100
    n_baddate = n // 200
    sentinel_rows = order[:n_sentinel]
    bad_rows = order[n_sentinel:n_sentinel + n_baddate]
    which = rng.integers(0, len(DROP_SUBSET), n_sentinel)
    for k, c in enumerate(DROP_SUBSET):
        rows = sentinel_rows[which == k]
        cols[c][rows] = np.where(rng.random(rows.size) < 0.5, "NULL", "")
    bad = np.array(["UNKNOWN", "2003-02-11 10:15:00", "13/45/2002 10:00:00 AM",
                    "02/11/2003 25:61:00 XM"], dtype=object)
    cols["Date"][bad_rows] = rng.choice(bad, n_baddate)

    clean = np.ones(n, dtype=bool)
    clean[sentinel_rows] = False
    clean[bad_rows] = False
    tallies = {}
    for i in ti[clean]:
        tallies[TYPES[i][0]] = tallies.get(TYPES[i][0], 0) + 1

    table = pa.table({c: pa.array(np.asarray(cols[c]).astype(str))
                      for c in COLUMNS})
    n_dup = n // 50
    n_header = 7
    dup_idx = rng.integers(0, n, n_dup)
    header = pa.table({c: pa.array([c] * n_header) for c in COLUMNS})
    idx = np.concatenate([np.arange(n), dup_idx])
    full = pa.concat_tables([table.take(pa.array(idx)), header])
    full = full.take(pa.array(rng.permutation(full.num_rows)))
    os.makedirs(out_dir, exist_ok=True)
    pacsv.write_csv(full, os.path.join(out_dir, "crime.csv"),
                    pacsv.WriteOptions(quoting_style="needed"))
    expected = {"raw_rows": full.num_rows, "clean_rows": int(clean.sum()),
                "duplicates": n_dup, "header_rows": n_header,
                "sentinel_rows": n_sentinel, "bad_date_rows": n_baddate,
                "location_descriptions": len(set(
                    cols["Location Description"].tolist()) - {"", "NULL"})}
    expected.update({f"type:{k}": v for k, v in sorted(tallies.items())})
    with open(os.path.join(out_dir, "crime_expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
    return expected


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]))
