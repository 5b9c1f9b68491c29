"""Fake Qdrant server in a process of its own, off the client's GIL.

    python3 perfbench/server.py

Prints the server's URL on the first line of standard output and serves
until its standard input is closed.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from qdrant_datafusion_spark.test_utils import FakeQdrantServer  # noqa: E402


def main() -> None:
    with FakeQdrantServer() as url:
        print(url, flush=True)
        sys.stdin.read()


if __name__ == "__main__":
    main()
