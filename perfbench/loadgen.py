"""Load generation over plain HTTP/1.1 keep-alive connections, all on one
asyncio thread: an open loop that sends on a schedule, and a closed loop
in which each client waits for its reply before the next request."""
import asyncio
import time
import urllib.parse


TIMEOUT_S = 60  # a reply slower than this counts as a failed request


class Conn:
    """One keep-alive connection; reconnects after a server-side close."""

    def __init__(self, port):
        self.port = port
        self.reader = self.writer = None

    async def _open(self):
        self.reader, self.writer = await asyncio.open_connection("127.0.0.1", self.port,
                                                                 limit=1 << 22)

    async def request(self, method, path, body=b""):
        """Send one request; return (status, body bytes, first-byte time)."""
        for attempt in (0, 1):
            if self.writer is None:
                await self._open()
            try:
                head = (f"{method} {path} HTTP/1.1\r\nHost: localhost\r\n"
                        f"Content-Length: {len(body)}\r\n\r\n").encode()
                self.writer.write(head + body)
                await self.writer.drain()
                return await asyncio.wait_for(self._response(), TIMEOUT_S)
            except asyncio.TimeoutError:
                self.close()
                raise
            except (ConnectionError, asyncio.IncompleteReadError):
                self.close()
                if attempt:
                    raise
        raise AssertionError("unreachable")

    async def _response(self):
        status_line = await self.reader.readuntil(b"\r\n")
        t_first = time.perf_counter()
        status = int(status_line.split()[1])
        headers = {}
        while True:
            line = await self.reader.readuntil(b"\r\n")
            if line == b"\r\n":
                break
            k, _, v = line.decode("latin-1").partition(":")
            headers[k.strip().lower()] = v.strip()
        if headers.get("transfer-encoding", "").lower() == "chunked":
            parts = []
            while True:
                size = int((await self.reader.readuntil(b"\r\n")).split(b";")[0], 16)
                if size == 0:
                    await self.reader.readuntil(b"\r\n")
                    break
                parts.append(await self.reader.readexactly(size))
                await self.reader.readexactly(2)
            data = b"".join(parts)
        else:
            data = await self.reader.readexactly(int(headers.get("content-length", "0")))
        if headers.get("connection", "").lower() == "close":
            self.close()
        return status, data, t_first

    def close(self):
        if self.writer is not None:
            self.writer.close()
        self.reader = self.writer = None


def query_path(api_key, sql, fmt="json"):
    q = urllib.parse.urlencode({"api_key": api_key, "format": fmt, "query": sql})
    return f"/api/data/query?{q}"


def insert_path(api_key, table, flatten):
    return f"/api/data/insert/{table}?api_key={api_key}&flatten={flatten}"


async def open_loop(port, schedule, n_conns, t0, on_done):
    """Send each (due, path, body, tag) of `schedule` at t0 + due on the
    first free connection. `on_done(tag, due, sent, first, done, status,
    data)` gets absolute perf_counter times (`first`: the response's first
    byte); latency counts from `due`, so a
    stall shows in the requests behind it too."""
    free = asyncio.Queue()
    for _ in range(n_conns):
        free.put_nowait(Conn(port))
    tasks = []

    async def fire(conn, item, due_abs):
        _, path, body, tag = item
        sent = time.perf_counter()
        try:
            status, data, first = await conn.request("POST", path, body)
        except Exception as e:  # counted as a failed request
            status, data, first = -1, str(e).encode(), time.perf_counter()
        on_done(tag, due_abs, sent, first, time.perf_counter(), status, data)
        free.put_nowait(conn)

    for item in schedule:
        due_abs = t0 + item[0]
        delay = due_abs - time.perf_counter()
        if delay > 0:
            await asyncio.sleep(delay)
        conn = await free.get()
        tasks.append(asyncio.create_task(fire(conn, item, due_abs)))
    await asyncio.gather(*tasks)
    while not free.empty():
        free.get_nowait().close()


async def closed_loop(port, n_clients, deadline, next_request, on_done):
    """`n_clients` clients, each sending `next_request()` -> (path, tag)
    as soon as its previous reply is complete, until `deadline` or until
    `next_request()` returns None."""
    async def client():
        conn = Conn(port)
        while time.perf_counter() < deadline:
            req = next_request()
            if req is None:
                break
            path, tag = req
            sent = time.perf_counter()
            try:
                status, data, first = await conn.request("GET", path)
            except Exception as e:
                status, data, first = -1, str(e).encode(), time.perf_counter()
            on_done(tag, sent, first, time.perf_counter(), status, data)
        conn.close()
    await asyncio.gather(*(client() for _ in range(n_clients)))
