#!/usr/bin/env python3
"""Regenerate src/test/resources/golden_output.csv by running the
REFERENCE's own stage-3 converter (jsontocsv_enhanced.create_csv_from_analyzed_json)
over its shipped analyzed.json. The fixture is reference-derived golden
output, not engine output — GoldenCsvSpec compares our CsvFlatten to it.

The reference root is GRAFT_REFERENCE_ROOT, with the same default and the
same "absent" message as Instagram.referenceDir() on the Scala side.

Usage: python3 tools/make_golden_csv.py
"""
import os
import sys

root = os.environ.get("GRAFT_REFERENCE_ROOT", "/root/reference")
if not os.path.isdir(root):
    sys.exit(f"reference fixtures absent at {root} "
             "(set GRAFT_REFERENCE_ROOT to their directory)")

sys.path.insert(0, root)
from jsontocsv_enhanced import create_csv_from_analyzed_json  # noqa: E402

ok, n = create_csv_from_analyzed_json(
    os.path.join(root, "analyzed.json"),
    "src/test/resources/golden_output.csv")
print(f"ok={ok} creators={n}")
