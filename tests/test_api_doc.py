"""API.md is generated: the committed file must equal what
``tools/gen_api.py`` renders from the package today. No Spark needed."""
from __future__ import annotations

import importlib.util
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_api_md_matches_generator():
    spec = importlib.util.spec_from_file_location(
        "gen_api", os.path.join(REPO, "tools", "gen_api.py")
    )
    gen_api = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen_api)
    with open(os.path.join(REPO, "API.md"), encoding="utf-8") as fh:
        committed = fh.read()
    assert committed == gen_api.render(), (
        "API.md is stale: run `python tools/gen_api.py`"
    )
