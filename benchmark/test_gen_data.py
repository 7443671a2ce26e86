"""Checks gen_data.py against the repository's synthetic sf datasets.

Set GRAFT_TESTDATA to the directory that holds them (sf0.001/, sf0.01/,
...); without it the comparisons are skipped.

Run: GRAFT_TESTDATA=<dir> python3 -m unittest discover -s benchmark -p 'test_*.py'
"""
import os
import tempfile
import unittest

import numpy as np
import pyarrow.parquet as pq

import gen_data

REFERENCE = os.environ.get("GRAFT_TESTDATA")
SCALES = {"sf0.001": 0.001, "sf0.01": 0.01}
TABLES = ("customer", "events", "documents", "nation", "region")
REFERENCE_SEED = 42


def ref_path(scale, table):
    return os.path.join(REFERENCE, scale, f"{table}.parquet")


def physical_schema(path):
    """Column name, physical type and logical type of every column: what
    Spark's parquet reader decides on (e.g. TIMESTAMP(MICROS) without UTC
    adjustment reads as TIMESTAMP_NTZ; NANOS would read as a long)."""
    s = pq.ParquetFile(path).schema
    return [(s.column(i).name, s.column(i).physical_type, str(s.column(i).logical_type))
            for i in range(len(s))]


def events_start(sf, reference_users):
    """A seed-42 stream advanced to where the sf sets begin their events
    table: found by locating the table's first user_id draws, then moving
    back over its `ts` draws (one 64-bit word each, i.e. two of the 32-bit
    words a bounded draw takes)."""
    n = int(round(1_000_000 * sf))
    users = int(round(15_000 * sf))
    probe = np.random.default_rng(REFERENCE_SEED).integers(0, users, 4_000_000)
    at = probe.tobytes().find(np.asarray(reference_users[:16], dtype=probe.dtype).tobytes())
    if at < 0 or at % 8:
        return None
    rng = np.random.default_rng(REFERENCE_SEED)
    rng.integers(0, users, at // 8 - 2 * n)
    return rng


@unittest.skipUnless(REFERENCE and os.path.isdir(REFERENCE), "GRAFT_TESTDATA is not set")
class MatchesReference(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        for scale, sf in SCALES.items():
            gen_data.generate(os.path.join(cls.tmp.name, scale), 7, sf)

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def test_schemas_and_row_counts(self):
        for scale in SCALES:
            for t in TABLES:
                ours = os.path.join(self.tmp.name, scale, f"{t}.parquet")
                with self.subTest(scale=scale, table=t):
                    self.assertEqual(physical_schema(ours), physical_schema(ref_path(scale, t)))
                    self.assertEqual(pq.ParquetFile(ours).metadata.num_rows,
                                     pq.ParquetFile(ref_path(scale, t)).metadata.num_rows)

    def test_fixed_tables_are_equal(self):
        for scale in SCALES:
            for t in ("nation", "region"):
                with self.subTest(scale=scale, table=t):
                    ours = pq.read_table(os.path.join(self.tmp.name, scale, f"{t}.parquet"))
                    self.assertTrue(ours.equals(pq.read_table(ref_path(scale, t))))

    def test_seed_42_reproduces_customer(self):
        for scale, sf in SCALES.items():
            with self.subTest(scale=scale):
                ours = gen_data.customer(np.random.default_rng(REFERENCE_SEED), sf)
                ref = pq.read_table(ref_path(scale, "customer"))
                self.assertTrue(ours.equals(ref.replace_schema_metadata(None)))

    def test_events_and_documents_follow_from_the_reference_stream(self):
        for scale, sf in SCALES.items():
            ref_events = pq.read_table(ref_path(scale, "events")).replace_schema_metadata(None)
            rng = events_start(sf, ref_events.column("user_id").to_numpy())
            with self.subTest(scale=scale):
                self.assertIsNotNone(rng, "the reference's user_id draws were not found")
                self.assertTrue(gen_data.events(rng, sf).equals(ref_events))
                ref_docs = pq.read_table(ref_path(scale, "documents"))
                self.assertTrue(gen_data.documents(rng, sf).equals(
                    ref_docs.replace_schema_metadata(None)))


if __name__ == "__main__":
    unittest.main()
