"""qdata.py reproduces the shape of the reference sf0.01 tables.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
import qdata  # noqa: E402
import qshape  # noqa: E402


class QdataShapeTest(unittest.TestCase):
    def test_generated_tables_match_the_reference_figures(self):
        with tempfile.TemporaryDirectory() as d:
            qdata.generate(d, 0.01)
            self.assertEqual(qshape.departures(qshape.measure(d)), {})


if __name__ == "__main__":
    unittest.main()
