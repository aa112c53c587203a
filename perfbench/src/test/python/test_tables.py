"""The analytics table generator is deterministic in its seed."""
import io
import os
import sys
import unittest

import pyarrow.parquet as pq

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "..", ".."))
import tables  # noqa: E402


def parquet_bytes(t):
    buf = io.BytesIO()
    pq.write_table(t, buf)
    return buf.getvalue()


class TablesTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        a, b, c = tables.tables(0), tables.tables(0), tables.tables(1)
        self.assertEqual(sorted(a), sorted(b))
        for name in a:
            self.assertEqual(parquet_bytes(a[name]), parquet_bytes(b[name]), name)
        self.assertNotEqual(parquet_bytes(a["lineitem"]), parquet_bytes(c["lineitem"]))

    def test_sizes_and_keys(self):
        t = tables.tables(0)
        self.assertEqual(t["lineitem"].num_rows, tables.SIZES["lineitem"])
        orders = t["orders"].num_rows
        self.assertTrue(all(0 <= k < orders for k in t["lineitem"]["l_orderkey"].to_pylist()))


if __name__ == "__main__":
    unittest.main()
