"""Tests of the benchmark's engine-independent NDS check.

    python3 -m unittest discover -s dagbench -p 'test_*.py'

A warehouse holding exactly what the generator expects is written with
DuckDB; the check must accept it, and reject it after one `aqi_value` is
flipped or one surrogate key duplicated.
"""
import os
import shutil
import tempfile
import unittest

import duckdb

import aqi_corpus


class CheckTest(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.mkdtemp()
        cls.day = aqi_corpus.generate(os.path.join(cls.tmp, "corpus"), 3000, 7, 1)[1]

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.tmp)

    def warehouse(self, name, edit=""):
        """The expected NDS of the day as parquet, with `edit` (SQL run on
        the `m` table) applied first.
        """
        wh = os.path.join(self.tmp, name)
        con = duckdb.connect()
        states = sorted({state for _, _, state in self.day.expected.values()} |
                        {aqi_corpus._county(i)[1] for i in range(aqi_corpus.COUNTIES)})
        con.execute("CREATE TABLE s AS SELECT row_number() OVER (ORDER BY n) AS state_id_sk, "
                    "n AS state_name FROM unnest(?) t(n)", [states])
        counties = [aqi_corpus._county(i)[:2] for i in range(aqi_corpus.COUNTIES)]
        con.execute("CREATE TABLE c0 (county_name VARCHAR, state_name VARCHAR)")
        con.executemany("INSERT INTO c0 VALUES (?, ?)", counties)
        con.execute("CREATE TABLE c AS SELECT row_number() OVER (ORDER BY county_name) AS county_id_sk, "
                    "county_name, state_id_sk FROM c0 JOIN s USING (state_name)")
        con.execute("CREATE TABLE m0 (measured_date DATE, defining_parameter VARCHAR, "
                    "defining_site VARCHAR, aqi_value INTEGER, aqi_category VARCHAR, county_name VARCHAR)")
        con.executemany("INSERT INTO m0 VALUES (?, ?, ?, ?, ?, ?)", [
            (d, p, site, aqi, aqi_corpus.aqi_category(aqi), county)
            for (d, p, site), (aqi, county, _) in self.day.expected.items()])
        con.execute("CREATE TABLE m AS SELECT row_number() OVER (ORDER BY measured_date, "
                    "defining_parameter, defining_site) AS measurement_id_sk, m0.* EXCLUDE (county_name), "
                    "county_id_sk FROM m0 JOIN c USING (county_name)")
        if edit:
            con.execute(edit)
        for table, rel in (("state_nds", "s"), ("county_nds", "c"), ("measurement_nds", "m")):
            os.makedirs(os.path.join(wh, table))
            con.execute(f"COPY {rel} TO '{wh}/{table}/part-0.parquet' (FORMAT PARQUET)")
        return wh

    def test_accepts_the_expected_tables(self):
        self.assertEqual(aqi_corpus.check_warehouse(self.warehouse("ok"), self.day.expected), [])

    def test_rejects_one_flipped_aqi_value(self):
        wh = self.warehouse("flipped", "UPDATE m SET aqi_value = aqi_value + 1 "
                                       "WHERE measurement_id_sk = 17")
        errors = aqi_corpus.check_warehouse(wh, self.day.expected)
        self.assertEqual(len(errors), 1)
        self.assertIn("digest", errors[0])

    def test_rejects_one_duplicated_surrogate_key(self):
        wh = self.warehouse("duplicated", "UPDATE m SET measurement_id_sk = 17 "
                                          "WHERE measurement_id_sk = 18")
        errors = aqi_corpus.check_warehouse(wh, self.day.expected)
        self.assertEqual(len(errors), 1)
        self.assertIn("measurement_id_sk: not dense and unique", errors[0])


if __name__ == "__main__":
    unittest.main()
