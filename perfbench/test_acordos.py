"""Tests of the seeded acordos generator.

    python3 -m unittest perfbench/test_acordos.py

The expected gold sizes are checked against a small independent model of
the medallion's normalisation (fill, trim, title case, year, projection,
distinct), written here in plain Python.
"""

import os
import sys
import unittest

import pyarrow as pa

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import acordos  # noqa: E402

SILVER_TEXT = ["Parceiro", "Tipo de Parceiro", "Continente", "Região", "Local de Assinatura",
               "Tipo de Acordo", "Título", "Objetivo", "Recursos", "Tipo de Documento"]
FILLED = set(SILVER_TEXT) - {"Título"}


def parquet_bytes(table):
    sink = pa.BufferOutputStream()
    acordos.write(table, sink)
    return sink.getvalue().to_pybytes()


def title(s):
    """pandas/Python title case: upper after any non-letter, lower elsewhere."""
    return s.title()


def silver_row(r):
    out = []
    for c in SILVER_TEXT:
        v = r[c]
        if c in FILLED and (v is None or v == "-"):
            v = "não informado"
        if c == "Título" and v is not None:
            v = v.strip()[:255]
        out.append(None if v is None else title(v.strip()))
    d = r["Data de Celebração"]
    ok = d is not None and len(d) == 10 and d[2] == "/" and d[5] == "/" and \
        d[:2].isdigit() and d[3:5].isdigit() and d[6:].isdigit() and \
        1 <= int(d[:2]) <= 31 and 1 <= int(d[3:5]) <= 12
    out.append(int(d[6:]) if ok else None)
    return tuple(out)


def model_gold(rows):
    silver = {silver_row(r) for r in rows}
    tipo = SILVER_TEXT.index("Tipo de Parceiro")
    return {"acordos": len(silver), "hier": len(silver),
            "pais": sum(1 for s in silver if s[tipo] == "País"),
            "org": sum(1 for s in silver if s[tipo] == "Organização")}


class BatchTest(unittest.TestCase):
    def setUp(self):
        self.table, self.exp = acordos.batch(7, 6000)
        self.rows = self.table.to_pylist()

    def test_same_seed_same_bytes(self):
        again, _ = acordos.batch(7, 6000)
        self.assertEqual(parquet_bytes(self.table), parquet_bytes(again))

    def test_other_seed_other_bytes(self):
        other, _ = acordos.batch(8, 6000)
        self.assertNotEqual(parquet_bytes(self.table), parquet_bytes(other))

    def test_schema_is_the_raw_sheet(self):
        self.assertEqual(self.table.column_names, acordos.RAW_HEADERS)
        self.assertTrue(all(t == pa.string() for t in self.table.schema.types))

    def test_expected_counts_match_an_independent_model(self):
        self.assertEqual(self.exp["rows"], len(self.rows))
        want = model_gold(self.rows)
        self.assertEqual({k: self.exp[k] for k in want}, want)

    def test_input_properties(self):
        full = [tuple(r[c] for c in acordos.RAW_HEADERS) for r in self.rows]
        self.assertGreater(len(full) - len(set(full)), 0, "exact duplicates")
        no_link = [tuple(r[c] for c in acordos.RAW_HEADERS if c not in ("Link", "Vigência"))
                   for r in self.rows]
        self.assertGreater(len(set(full)) - len(set(no_link)), 0,
                           "rows differing only in link/vigência")
        cols = {c: [r[c] for r in self.rows] for c in acordos.RAW_HEADERS}
        self.assertIn("-", cols["Continente"])
        self.assertIn(None, cols["Região"])
        self.assertTrue(any(d in acordos.BAD_DATES for d in cols["Data de Celebração"]))
        self.assertTrue(any(t and len(t.strip()) > 255 for t in cols["Título"]))
        tipos = {t.strip().title() for t in cols["Tipo de Parceiro"] if t and t != "-"}
        self.assertTrue({"País", "Organização"} <= tipos)
        self.assertTrue(0.3 < self.exp["pais"] / self.exp["acordos"] < 0.6)


class DaysTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        a, _ = acordos.days(3, 3, 500)
        b, _ = acordos.days(3, 3, 500)
        self.assertEqual([parquet_bytes(t) for t in a], [parquet_bytes(t) for t in b])

    def test_days_are_reference_sized_and_repeat_earlier_keys(self):
        tables, exp = acordos.days(3, 4, 2000)
        self.assertTrue(all(1900 < t.num_rows < 2300 for t in tables))
        first_day = {}
        late_repeat = False
        for d, t in enumerate(tables):
            for p in t.column("Parceiro").to_pylist():
                late_repeat |= first_day.setdefault(p, d) < d
        self.assertTrue(late_repeat, "a day repeats a key landed on an earlier day")
        rows = [r for t in tables for r in t.to_pylist()]
        self.assertEqual(exp["rows"], len(rows))
        want = model_gold(rows)
        self.assertEqual({k: exp[k] for k in want}, want)


if __name__ == "__main__":
    unittest.main()
