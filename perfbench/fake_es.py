"""Minimal Elasticsearch and schema-registry stand-in, run as its own process.

    python3 perfbench/fake_es.py --out BULKS_FILE --schemas SCHEMAS_JSON

It answers the few endpoints the injector service calls:

- ``POST /_bulk``: appends the body to BULKS_FILE, framed by a header line
  ``<receive time, epoch ns> <body length>``, and answers 201 for every
  action line;
- ``GET /``: an ES 7 banner;
- ``GET /schemas/ids/<id>``: the writer schema from SCHEMAS_JSON, or 404;
- ``POST /_shutdown``: flushes BULKS_FILE and exits.

It serves one request at a time on one thread, so it never holds more than
one connection. The port it bound is printed as the first stdout line.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time
from http.server import BaseHTTPRequestHandler, HTTPServer

ITEM_201 = b'{"create":{"status":201}}'


def bulk_reply(n_items: int) -> bytes:
    return (b'{"took":1,"errors":false,"items":['
            + b",".join([ITEM_201] * n_items) + b"]}")


class Server(HTTPServer):
    request_queue_size = 64


def make_handler(out, schemas: dict[str, str], server_box: list):
    class Handler(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"

        def log_message(self, *args):  # quiet
            pass

        def _reply(self, code: int, body: bytes) -> None:
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_GET(self):
            if self.path.startswith("/schemas/ids/"):
                schema = schemas.get(self.path.rsplit("/", 1)[1])
                if schema is None:
                    self._reply(404, b'{"error_code":40403}')
                else:
                    self._reply(200, json.dumps({"schema": schema}).encode())
            else:
                self._reply(200, b'{"version":{"number":"7.17.0"}}')

        def do_POST(self):
            body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
            if self.path.startswith("/_bulk"):
                received = time.time_ns()
                out.write(b"%d %d\n" % (received, len(body)))
                out.write(body)
                self._reply(200, bulk_reply(body.count(b"\n") // 2))
            elif self.path == "/_shutdown":
                out.flush()
                self._reply(200, b"{}")
                threading.Thread(target=server_box[0].shutdown).start()
            else:
                self._reply(404, b"{}")

    return Handler


def read_bulks(path: str) -> list[tuple[int, bytes]]:
    """(receive time ns, body) for every bulk stored in `path`."""
    with open(path, "rb") as f:
        data = f.read()
    out, pos = [], 0
    while pos < len(data):
        nl = data.index(b"\n", pos)
        received, length = map(int, data[pos:nl].split())
        out.append((received, data[nl + 1:nl + 1 + length]))
        pos = nl + 1 + length
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--schemas", required=True)
    args = ap.parse_args()
    with open(args.schemas) as f:
        schemas = json.load(f)
    with open(args.out, "wb", buffering=1 << 20) as out:
        box: list = []
        server = Server(("127.0.0.1", 0), make_handler(out, schemas, box))
        box.append(server)
        print(server.server_address[1], flush=True)
        server.serve_forever(poll_interval=0.05)
        server.server_close()
    sys.stdout.flush()
    os._exit(0)


if __name__ == "__main__":
    main()
