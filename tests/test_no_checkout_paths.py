"""No Python file names the checkout it lives in by absolute path.
Such a path makes a second checkout read the first one's files (or
fail where they are absent); build paths from `Path(__file__)`."""

import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
SKIP = {"__pycache__", "spark-warehouse", "metastore_db"}


def test_no_python_file_embeds_the_checkout_path():
    here = re.compile(re.escape(str(REPO)) + r"(?![\w.-])")
    hits = []
    for path in sorted(REPO.rglob("*.py")):
        parts = path.relative_to(REPO).parts
        if any(p.startswith(".") or p in SKIP for p in parts):
            continue
        for i, line in enumerate(path.read_text().splitlines(), 1):
            if here.search(line):
                hits.append(f"{path.relative_to(REPO)}:{i}")
    assert hits == []
