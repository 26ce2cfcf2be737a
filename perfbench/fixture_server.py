"""Loopback fixture for the seeded NFT collection API.

Run as a child process: ``python fixture_server.py <seed> <pages>
<per_page> <n_meta>``. It binds 127.0.0.1 on a free port, serializes
every response (status line, headers and body) up front, prints
``PORT <n>`` once it accepts connections, and serves until its stdin
closes.

One thread runs an asyncio loop over all connections, so serving a
request costs no thread wake-up or interpreter-lock hand-off on the
server side; a thread-per-connection server made the client's fetch
time depend on how the host schedules those threads. HTTP/1.1 keep-alive
lets the client's connection pool reuse sockets, and TCP_NODELAY on
every connection avoids a Nagle/delayed-ACK stall of ~40 ms per request.
Being a separate process, the server never competes with the client for
its interpreter lock.

``GET /_stats`` returns the counters since the previous ``/_stats`` and
resets them; it is not itself counted.
"""

from __future__ import annotations

import asyncio
import json
import os
import socket
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from nft_api import NftApi  # noqa: E402

NOT_FOUND = b"HTTP/1.1 404 Not Found\r\nContent-Length: 0\r\n\r\n"


def _response(body: bytes) -> bytes:
    head = (
        "HTTP/1.1 200 OK\r\nContent-Type: application/json\r\n"
        f"Content-Length: {len(body)}\r\n\r\n"
    )
    return head.encode() + body


class _Counters:
    def __init__(self) -> None:
        self.reset()

    def reset(self) -> None:
        self.requests = 0
        self.meta_requests = 0
        self.meta_paths: set[str] = set()
        self.bytes = 0

    def snapshot_and_reset(self) -> dict:
        snap = {
            "requests": self.requests,
            "meta_requests": self.meta_requests,
            "meta_distinct": len(self.meta_paths),
            "bytes": self.bytes,
        }
        self.reset()
        return snap


async def serve(seed: int, pages: int, per_page: int, n_meta: int) -> None:
    counters = _Counters()
    responses: dict[str, tuple[bytes, int]] = {}

    async def handle(reader: asyncio.StreamReader, writer: asyncio.StreamWriter) -> None:
        writer.get_extra_info("socket").setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        try:
            while True:
                head = await reader.readuntil(b"\r\n\r\n")  # GET requests carry no body
                path = head.split(b" ", 2)[1].decode()
                if path == "/_stats":
                    writer.write(_response(json.dumps(counters.snapshot_and_reset()).encode()))
                elif path in responses:
                    resp, body_len = responses[path]
                    counters.requests += 1
                    counters.bytes += body_len
                    if path.startswith("/meta/"):
                        counters.meta_requests += 1
                        counters.meta_paths.add(path)
                    writer.write(resp)
                else:
                    writer.write(NOT_FOUND)
                await writer.drain()
        except (asyncio.IncompleteReadError, ConnectionError, asyncio.CancelledError):
            pass  # the client closed its connection, or the server is stopping
        finally:
            writer.close()

    server = await asyncio.start_server(handle, "127.0.0.1", 0)
    port = server.sockets[0].getsockname()[1]
    bodies = NftApi(seed, pages, per_page, n_meta).bodies(f"http://127.0.0.1:{port}")
    responses.update({p: (_response(b), len(b)) for p, b in bodies.items()})

    loop = asyncio.get_running_loop()
    stdin_closed = asyncio.Event()

    def on_stdin() -> None:
        if not os.read(sys.stdin.fileno(), 4096):  # parent closes stdin to stop us
            loop.remove_reader(sys.stdin.fileno())
            stdin_closed.set()

    loop.add_reader(sys.stdin.fileno(), on_stdin)
    print(f"PORT {port}", flush=True)
    async with server:
        await stdin_closed.wait()


if __name__ == "__main__":
    asyncio.run(serve(*(int(a) for a in sys.argv[1:5])))
