"""Runs the repo's FakeGCSServer (the stand-in for GCS) in a process of
its own for the bucket-rooted KV workload.

Line protocol on stdin/stdout:
  prints ``ready <endpoint>`` once serving;
  ``stats`` -> one JSON line {"objects": n, "bytes": total stored bytes};
  ``stop`` (or end of input) -> stops the server and exits 0.
"""

from __future__ import annotations

import json
import os
import socket
import struct
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pot_spark.kv.gcs_emulator import FakeGCSServer  # noqa: E402


def _no_time_wait(httpd) -> None:
    """Close every served connection with SO_LINGER 0, so it leaves no
    TIME_WAIT socket behind. A real GCS endpoint keeps that state on its
    own host; co-located, the emulator's TIME_WAIT sockets (one per
    request, ~10 per KV op) would fill this host's ephemeral port range
    and make each run's connect() cost depend on the runs before it.
    The response and FIN are queued before the reset, so clients still
    read every reply in full."""
    accept = httpd.get_request

    def get_request():
        sock, addr = accept()
        sock.setsockopt(socket.SOL_SOCKET, socket.SO_LINGER, struct.pack("ii", 1, 0))
        return sock, addr

    httpd.get_request = get_request


def main() -> int:
    srv = FakeGCSServer()
    endpoint = srv.start()
    _no_time_wait(srv._httpd)
    print("ready", endpoint, flush=True)
    try:
        for line in sys.stdin:
            cmd = line.strip()
            if cmd == "stats":
                # the emulator keeps objects in memory; read its map under
                # its own lock to price what the store keeps in the bucket
                with srv._lock:
                    blobs = list(srv._objects.values())
                print(
                    json.dumps(
                        {"objects": len(blobs), "bytes": sum(map(len, blobs))}
                    ),
                    flush=True,
                )
            elif cmd == "stop":
                break
    finally:
        srv.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
