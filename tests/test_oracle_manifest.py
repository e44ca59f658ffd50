"""Every registered oracle string is pinned by its md5 in
``tests/oracle_md5.json``, so a change that edits an oracle, even by
one byte of whitespace, shows here by name. A refactor that only moves
code keeps the manifest as it is; a change that means to edit an
oracle regenerates the manifest and says why:

    python -c "import hashlib, json; from end_to_end_aws_data_pipeline_spark import registry; print(json.dumps({k: hashlib.md5(v.encode()).hexdigest() for k, v in registry.oracle_sql().items()}, indent=2, sort_keys=True))" > tests/oracle_md5.json
"""

from __future__ import annotations

import hashlib
import json
from pathlib import Path

from end_to_end_aws_data_pipeline_spark import registry

MANIFEST = Path(__file__).with_name("oracle_md5.json")


def test_oracle_strings_match_the_manifest():
    pinned = json.loads(MANIFEST.read_text())
    now = {
        name: hashlib.md5(sql.encode()).hexdigest()
        for name, sql in registry.oracle_sql().items()
    }
    differ = sorted(n for n in pinned.keys() | now.keys() if pinned.get(n) != now.get(n))
    assert not differ, f"{len(differ)} oracle strings differ from the manifest: {differ}"
