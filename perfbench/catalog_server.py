"""The repository's REST catalog stub (tests/rest_stub.py), served from its
own process the way a real catalog runs apart from the exporter.

    python3 perfbench/catalog_server.py <warehouse_dir>

Prints the catalog URI as its first stdout line, then reads commands
from stdin, one per line:

    requests   -> prints {"requests": <requests served so far>}

and shuts down when stdin closes.
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]
    from rest_stub import make_server

    server, state, uri = make_server(sys.argv[1])
    print(uri, flush=True)
    try:
        for line in sys.stdin:
            if line.strip() == "requests":
                print(json.dumps({"requests": len(state.requests)}), flush=True)
    finally:
        server.shutdown()
        server.server_close()
    return 0


class CatalogProcess:
    """Parent-side handle: start the server process, ask it for its
    request count, stop it and wait for it to end."""

    def __init__(self, warehouse: str):
        import subprocess

        self.warehouse = warehouse
        self.proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), warehouse],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            text=True,
            cwd=ROOT,
        )
        self.uri = self.proc.stdout.readline().strip()
        if not self.uri.startswith("http://"):
            self.close()
            raise RuntimeError("REST catalog process did not start")

    def requests(self) -> int:
        self.proc.stdin.write("requests\n")
        self.proc.stdin.flush()
        return json.loads(self.proc.stdout.readline())["requests"]

    def close(self) -> None:
        import subprocess

        if self.proc.stdin and not self.proc.stdin.closed:
            self.proc.stdin.close()
        try:
            self.proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()


if __name__ == "__main__":
    sys.exit(main())
