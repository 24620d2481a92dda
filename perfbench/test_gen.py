#!/usr/bin/env python3
"""Self-test of the benchmark's input generators.

Pins the crime CSV's shape (date format, >=100 Location Description values,
~15% missing Ward / Community Area), the planted dirt counts, and the side
file's clean row count and per-type tallies, recomputed independently in
DuckDB with the cleaning rules CrimeEtl.clean applies. Also pins the query
tables' schemas and that both generators are deterministic in the seed.

Run from the root of a checkout: python3 perfbench/test_gen.py
"""
import hashlib
import json
import os
import shutil
import sys
import unittest

import duckdb
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(HERE, "gen"))

import crime  # noqa: E402
import tables  # noqa: E402

WORK = os.path.join(".bench_build", "selftest")
ROWS = 20_000


def digest(path):
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


class CrimeCsvTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        shutil.rmtree(WORK, ignore_errors=True)
        cls.dir = os.path.join(WORK, "crime")
        cls.expected = crime.generate(cls.dir, 7, ROWS)
        with open(os.path.join(cls.dir, "crime_expected.json")) as f:
            cls.side = json.load(f)
        cls.con = duckdb.connect()
        cls.con.sql(
            "CREATE VIEW raw AS SELECT * FROM read_csv("
            f"'{cls.dir}/crime.csv', header=true, all_varchar=true)")

    def one(self, sql):
        return self.con.sql(sql).fetchone()[0]

    def test_side_file_matches_generator(self):
        self.assertEqual(self.side, self.expected)
        self.assertEqual(self.one("SELECT count(*) FROM raw"),
                         self.side["raw_rows"])

    def test_location_description_cardinality(self):
        # CrimeMl's tree learner must see real-world cardinality; the
        # generator may never shrink it below 100
        n = self.one('SELECT count(DISTINCT "Location Description") FROM raw '
                     'WHERE "ID" <> \'ID\' AND "Location Description" '
                     "NOT IN ('', 'NULL')")
        self.assertGreaterEqual(n, 100)
        self.assertEqual(n, self.side["location_descriptions"])

    def test_missing_ward_and_community_area(self):
        for c in ("Ward", "Community Area"):
            share = self.one(
                f'SELECT avg(CASE WHEN coalesce("{c}", \'\') IN (\'\', '
                f"'NULL') THEN 1.0 ELSE 0.0 END) FROM raw "
                "WHERE \"ID\" <> 'ID'")
            self.assertGreater(share, 0.12, c)
            self.assertLess(share, 0.18, c)

    def test_planted_dirt_counts(self):
        s = self.side
        self.assertEqual(self.one("SELECT count(*) FROM raw WHERE \"ID\" = 'ID'"),
                         s["header_rows"])
        distinct = self.one("SELECT count(*) FROM (SELECT DISTINCT * FROM raw)")
        # duplicates collapse to their base row, the header rows to one
        self.assertEqual(s["raw_rows"] - distinct,
                         s["duplicates"] + s["header_rows"] - 1)
        self.assertEqual(s["duplicates"], ROWS // 50)
        self.assertEqual(s["sentinel_rows"], ROWS // 100)
        self.assertEqual(s["bad_date_rows"], ROWS // 200)

    def test_date_format(self):
        rows = "(SELECT DISTINCT * FROM raw WHERE \"ID\" <> 'ID')"
        parsed = "try_strptime(\"Date\", '%m/%d/%Y %I:%M:%S %p')"
        self.assertEqual(self.one(
            f"SELECT count(*) FROM {rows} WHERE {parsed} IS NULL"),
            self.side["bad_date_rows"])
        self.assertEqual(self.one(
            f"SELECT count(*) FROM {rows} WHERE {parsed} IS NOT NULL AND ("
            "NOT regexp_full_match(\"Date\", '\\d{2}/\\d{2}/\\d{4} "
            "\\d{2}:\\d{2}:\\d{2} (AM|PM)') "
            f"OR year({parsed}) NOT BETWEEN 2001 AND 2004)"), 0)

    def test_clean_count_and_tallies(self):
        # CrimeEtl.clean: stray headers, whole-row dedup, "NULL"/"" -> null,
        # dropna over the drop subset, rows whose date does not parse
        subset = " AND ".join(f"coalesce(\"{c}\", '') NOT IN ('', 'NULL')"
                              for c in crime.DROP_SUBSET)
        self.con.sql(
            "CREATE OR REPLACE VIEW clean AS SELECT * FROM "
            "(SELECT DISTINCT * FROM raw WHERE \"ID\" <> 'ID') "
            f"WHERE {subset} AND try_strptime(\"Date\", "
            "'%m/%d/%Y %I:%M:%S %p') IS NOT NULL")
        self.assertEqual(self.one("SELECT count(*) FROM clean"),
                         self.side["clean_rows"])
        got = dict(self.con.sql('SELECT "Primary Type", count(*) FROM clean '
                                "GROUP BY 1").fetchall())
        want = {k[5:]: v for k, v in self.side.items()
                if k.startswith("type:")}
        self.assertEqual(got, want)
        # skewed mix: THEFT leads and the head outweighs the tail
        self.assertEqual(max(want, key=want.get), "THEFT")

    def test_deterministic_in_seed(self):
        again = os.path.join(WORK, "crime_again")
        other = os.path.join(WORK, "crime_other")
        crime.generate(again, 7, ROWS)
        crime.generate(other, 8, ROWS)
        csv = "crime.csv"
        self.assertEqual(digest(os.path.join(self.dir, csv)),
                         digest(os.path.join(again, csv)))
        self.assertNotEqual(digest(os.path.join(self.dir, csv)),
                            digest(os.path.join(other, csv)))


class TablesTest(unittest.TestCase):
    SCHEMAS = {
        "lineitem": "l_orderkey:int64 l_partkey:int64 l_suppkey:int64 "
                    "l_linenumber:int32 l_quantity:double "
                    "l_extendedprice:double l_discount:double l_tax:double "
                    "l_returnflag:string l_linestatus:string "
                    "l_shipdate:timestamp[us]",
        "orders": "o_orderkey:int64 o_custkey:int64 o_orderstatus:string "
                  "o_totalprice:double o_orderdate:timestamp[us] "
                  "o_orderpriority:string",
        "customer": "c_custkey:int64 c_name:string c_nationkey:int32 "
                    "c_acctbal:double c_mktsegment:string",
        "supplier": "s_suppkey:int64 s_name:string s_nationkey:int32 "
                    "s_acctbal:double",
        "part": "p_partkey:int64 p_name:string p_brand:string p_type:string "
                "p_size:int32 p_retailprice:double",
        "nation": "n_nationkey:int32 n_name:string n_regionkey:int32",
        "region": "r_regionkey:int32 r_name:string",
        "events": "event_id:int64 ts:timestamp[us] user_id:int64 "
                  "event_type:string value:double props:string",
        "documents": "doc_id:int64 text:string lang:string source:string "
                     "n_chars:int64",
        "embeddings": "vec_id:int64 embedding:list<element: float> "
                      "label:int32",
    }

    def test_schemas_sizes_and_determinism(self):
        a = os.path.join(WORK, "tables_a")
        b = os.path.join(WORK, "tables_b")
        tables.generate(a, 3, 0.001)
        tables.generate(b, 3, 0.001)
        for name, want in self.SCHEMAS.items():
            schema = pq.read_schema(os.path.join(a, f"{name}.parquet"))
            got = " ".join(f"{f.name}:{f.type}" for f in schema)
            self.assertEqual(got, want, name)
            self.assertTrue(pq.read_table(os.path.join(a, f"{name}.parquet"))
                            .equals(pq.read_table(
                                os.path.join(b, f"{name}.parquet"))), name)
        self.assertEqual(pq.ParquetFile(os.path.join(a, "lineitem.parquet"))
                         .metadata.num_rows, 6_000)


if __name__ == "__main__":
    unittest.main()
