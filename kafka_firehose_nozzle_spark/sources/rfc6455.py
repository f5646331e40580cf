"""Minimal RFC 6455 websocket layer on stdlib ``socket``/``ssl``.

The reference consumes the firehose over gorilla/websocket
(noaa consumer/async.go:422-434 dials with ``Origin`` and
``Authorization`` headers; async.go:253-282 reads binary frames under a
read deadline). This sandbox has no third-party websocket package, so
the client is hand-rolled: HTTP/1.1 Upgrade handshake, client-masked
frames, fragmentation reassembly, ping/pong, and close-code surfacing —
everything the firehose path needs, nothing more.

The server half exists so tests can stand up a loopback stub Doppler
and drive the REAL client end-to-end (connect -> auth -> filter-type ->
binary envelope frames -> idle timeout -> close-1008), mirroring how
the reference's own suite runs against httptest websocket servers.

Close-code semantics the caller relies on (RFC 6455 §7.4.1):
1000 normal, 1008 policy violation — go-nozzle's slow-consumer signal
(detector.go:71-99 maps ClosePolicyViolation to a SlowConsumerAlert).
"""

from __future__ import annotations

import base64
import hashlib
import os
import socket
import ssl as ssl_mod
import struct
import urllib.parse

# RFC 6455 §1.3 handshake GUID
_WS_GUID = b"258EAFA5-E914-47DA-95CA-C5AB0DC85B11"

# opcodes (§5.2)
OP_CONT = 0x0
OP_TEXT = 0x1
OP_BINARY = 0x2
OP_CLOSE = 0x8
OP_PING = 0x9
OP_PONG = 0xA

CLOSE_NORMAL = 1000
CLOSE_GOING_AWAY = 1001
CLOSE_POLICY_VIOLATION = 1008  # go-nozzle's slow-consumer close


class WSError(Exception):
    """Base websocket failure."""


class WSHandshakeError(WSError):
    """Upgrade request answered with a non-101 status (noaa
    checkForErrors, consumer.go:103-127: 401 unauthorized, 400 bad
    request, anything else 'unknown issue')."""

    def __init__(self, status: int, reason: str, body: bytes = b""):
        super().__init__(f"websocket handshake failed: {status} {reason}")
        self.status = status
        self.reason = reason
        self.body = body


class WSClosed(WSError):
    """Peer sent a close frame (or the TCP stream ended)."""

    def __init__(self, code: int, reason: str = ""):
        super().__init__(f"websocket closed: {code} {reason}".rstrip())
        self.code = code
        self.reason = reason


class WSProtocolError(WSError):
    """Malformed frame / handshake from the peer."""


def accept_key(client_key: str) -> str:
    """Sec-WebSocket-Accept for a Sec-WebSocket-Key (§4.2.2 step 5.4)."""
    digest = hashlib.sha1(client_key.encode("ascii") + _WS_GUID).digest()
    return base64.b64encode(digest).decode("ascii")


def _apply_mask(data: bytes, mask: bytes) -> bytes:
    """XOR-mask/unmask a payload (§5.3). Int-XOR keeps the hot loop in
    C — a Python byte loop would bottleneck high-rate frame streams."""
    n = len(data)
    if n == 0:
        return b""
    reps = (n + 3) // 4
    keystream = (mask * reps)[:n]
    return (
        int.from_bytes(data, "big") ^ int.from_bytes(keystream, "big")
    ).to_bytes(n, "big")


def encode_frame(
    opcode: int, payload: bytes, mask: bool, fin: bool = True
) -> bytes:
    """One frame (§5.2). Clients MUST mask (§5.1); servers MUST NOT."""
    head = bytearray()
    head.append((0x80 if fin else 0) | (opcode & 0x0F))
    n = len(payload)
    mask_bit = 0x80 if mask else 0
    if n < 126:
        head.append(mask_bit | n)
    elif n < 1 << 16:
        head.append(mask_bit | 126)
        head += struct.pack(">H", n)
    else:
        head.append(mask_bit | 127)
        head += struct.pack(">Q", n)
    if mask:
        key = os.urandom(4)
        return bytes(head) + key + _apply_mask(payload, key)
    return bytes(head) + payload


class _FrameIO:
    """Shared frame pump over a connected (possibly TLS) socket.

    ``role`` decides masking: 'client' masks egress and requires
    unmasked ingress; 'server' the reverse (§5.1 — a server MUST close
    on an unmasked client frame, a client on a masked server frame).
    """

    # cap a single message at 64 MiB — a corrupt length prefix must not
    # become a driver OOM
    MAX_MESSAGE = 64 << 20

    def __init__(self, sock: socket.socket, role: str):
        self._sock = sock
        self._role = role
        # received bytes; the unparsed part starts at ``_pos``. Parsed
        # frames only move ``_pos``: the consumed prefix is cut off
        # when the next socket read is appended, once per read instead
        # of once per frame
        self._buf = b""
        self._pos = 0
        self._closed = False
        # fragmented-message reassembly state lives on the instance so a
        # recv() timeout between fragments resumes cleanly instead of
        # dropping the partial message
        self._parts: list[bytes] = []
        self._text = False

    # -- raw IO ------------------------------------------------------
    def _send_all(self, data: bytes) -> None:
        self._sock.sendall(data)

    # -- frames ------------------------------------------------------
    def _read_frame(self) -> tuple[bool, int, bytes]:
        """Next complete frame. Parsing is NON-DESTRUCTIVE until the
        whole frame (header + payload) sits in ``self._buf``: a recv()
        timeout mid-frame leaves the buffer positioned at the frame
        boundary, so the next call resumes cleanly instead of parsing
        payload bytes as a header (the firehose quick-drain loop reads
        with timeout=0.05 and relies on this)."""
        while True:
            frame = self._parse_buffered_frame()
            if frame is not None:
                return frame
            chunk = self._sock.recv(65536)
            if not chunk:
                raise WSClosed(1006, "connection dropped mid-frame")
            self._buf = self._buf[self._pos :] + chunk
            self._pos = 0

    def _parse_buffered_frame(self) -> tuple[bool, int, bytes] | None:
        """Parse one frame from self._buf at self._pos, consuming it only
        when fully buffered; return None (position untouched) when
        incomplete. Protocol violations raise immediately — those are
        fatal to the connection, so destroying the parse position is
        fine."""
        buf, off = self._buf, self._pos
        if len(buf) < off + 2:
            return None
        b0, b1 = buf[off], buf[off + 1]
        if b0 & 0x70:
            raise WSProtocolError("RSV bits set without an extension")
        fin = bool(b0 & 0x80)
        opcode = b0 & 0x0F
        masked = bool(b1 & 0x80)
        n = b1 & 0x7F
        off += 2
        if n == 126:
            if len(buf) < off + 2:
                return None
            (n,) = struct.unpack_from(">H", buf, off)
            off += 2
        elif n == 127:
            if len(buf) < off + 8:
                return None
            (n,) = struct.unpack_from(">Q", buf, off)
            off += 8
        if n > self.MAX_MESSAGE:
            raise WSProtocolError(f"frame of {n} bytes exceeds cap")
        if self._role == "client" and masked:
            raise WSProtocolError("server sent a masked frame")
        if self._role == "server" and not masked:
            raise WSProtocolError("client sent an unmasked frame")
        if masked:
            if len(buf) < off + 4 + n:
                return None
            key = buf[off : off + 4]
            off += 4
            payload = _apply_mask(buf[off : off + n], key)
        else:
            if len(buf) < off + n:
                return None
            payload = buf[off : off + n]
        self._pos = off + n
        return fin, opcode, payload

    def _send_frame(self, opcode: int, payload: bytes) -> None:
        self._send_all(
            encode_frame(opcode, payload, mask=self._role == "client")
        )

    # -- messages ----------------------------------------------------
    def recv(self, timeout: float | None = None) -> bytes | str:
        """Next data message; answers pings; raises WSClosed on a close
        frame (after echoing it, §5.5.1) and TimeoutError when
        ``timeout`` expires — the caller's idle-timeout signal, the
        stdlib analog of gorilla's SetReadDeadline
        (noaa async.go:255-257)."""
        if self._closed:
            raise WSClosed(1006, "recv on closed websocket")
        self._sock.settimeout(timeout)
        parts = self._parts
        try:
            while True:
                try:
                    fin, opcode, payload = self._read_frame()
                except (TimeoutError, socket.timeout) as e:
                    raise TimeoutError("websocket recv timed out") from e
                if opcode == OP_PING:
                    self._send_frame(OP_PONG, payload)
                    continue
                if opcode == OP_PONG:
                    continue
                if opcode == OP_CLOSE:
                    code, reason = CLOSE_NORMAL, ""
                    if len(payload) >= 2:
                        (code,) = struct.unpack(">H", payload[:2])
                        reason = payload[2:].decode("utf-8", "replace")
                    try:
                        self._send_frame(OP_CLOSE, payload[:2])
                        self._sock.close()
                    except OSError:
                        pass
                    self._closed = True
                    raise WSClosed(code, reason)
                if opcode in (OP_TEXT, OP_BINARY):
                    if parts:
                        raise WSProtocolError("new message inside fragment")
                    self._text = opcode == OP_TEXT
                    parts.append(payload)
                elif opcode == OP_CONT:
                    if not parts:
                        raise WSProtocolError("continuation without start")
                    parts.append(payload)
                else:
                    raise WSProtocolError(f"unknown opcode {opcode:#x}")
                if fin:
                    msg = b"".join(parts)
                    self._parts = []
                    return msg.decode("utf-8") if self._text else msg
                if sum(map(len, parts)) > self.MAX_MESSAGE:
                    raise WSProtocolError("fragmented message exceeds cap")
        finally:
            try:
                self._sock.settimeout(None)
            except OSError:
                pass  # close frame already shut the socket down

    def send_binary(self, payload: bytes) -> None:
        self._send_frame(OP_BINARY, payload)

    def send_text(self, payload: str) -> None:
        self._send_frame(OP_TEXT, payload.encode("utf-8"))

    def ping(self, payload: bytes = b"") -> None:
        self._send_frame(OP_PING, payload)

    def close(self, code: int = CLOSE_NORMAL, reason: str = "") -> None:
        """Send a close frame and drop the TCP connection. Best-effort:
        a peer that already vanished must not turn shutdown into a
        crash."""
        if self._closed:
            return
        self._closed = True
        try:
            self._send_frame(
                OP_CLOSE, struct.pack(">H", code) + reason.encode("utf-8")
            )
        except OSError:
            pass
        try:
            self._sock.close()
        except OSError:
            pass

    @property
    def closed(self) -> bool:
        return self._closed


class WSClient(_FrameIO):
    def __init__(self, sock: socket.socket, url: str):
        super().__init__(sock, "client")
        self.url = url


class WSServerConn(_FrameIO):
    """Accepted server-side connection, post-handshake."""

    def __init__(self, sock: socket.socket, path: str, headers: dict):
        super().__init__(sock, "server")
        self.path = path
        self.headers = headers


def _read_http_head(sock: socket.socket, limit: int = 65536) -> bytes:
    buf = b""
    while b"\r\n\r\n" not in buf:
        chunk = sock.recv(4096)
        if not chunk:
            raise WSProtocolError("peer closed during HTTP head")
        buf += chunk
        if len(buf) > limit:
            raise WSProtocolError("HTTP head exceeds limit")
    return buf


def connect(
    url: str,
    headers: dict | None = None,
    timeout: float = 20.0,
    ssl_context: ssl_mod.SSLContext | None = None,
) -> WSClient:
    """Dial ``ws://`` / ``wss://`` and upgrade (§4.1-4.2).

    ``headers`` carries the caller's extras — the firehose sends
    ``Authorization`` and ``Origin`` exactly like noaa's dial header
    (async.go:423). Non-ws schemes raise ValueError (noaa treats an
    invalid scheme as non-retryable, async.go:383-385); a non-101
    response raises WSHandshakeError carrying status + body so the
    caller can distinguish 401 from transient 5xx.
    """
    u = urllib.parse.urlsplit(url)
    if u.scheme not in ("ws", "wss"):
        raise ValueError(f"Invalid scheme '{u.scheme}'")
    host = u.hostname or ""
    port = u.port or (443 if u.scheme == "wss" else 80)
    path = u.path or "/"
    if u.query:
        path += "?" + u.query

    sock = socket.create_connection((host, port), timeout=timeout)
    try:
        if u.scheme == "wss":
            ctx = ssl_context or ssl_mod.create_default_context()
            sock = ctx.wrap_socket(sock, server_hostname=host)

        key = base64.b64encode(os.urandom(16)).decode("ascii")
        host_hdr = host if port in (80, 443) else f"{host}:{port}"
        lines = [
            f"GET {path} HTTP/1.1",
            f"Host: {host_hdr}",
            "Upgrade: websocket",
            "Connection: Upgrade",
            f"Sec-WebSocket-Key: {key}",
            "Sec-WebSocket-Version: 13",
        ]
        for name, value in (headers or {}).items():
            if value:
                lines.append(f"{name}: {value}")
        sock.sendall(("\r\n".join(lines) + "\r\n\r\n").encode("latin-1"))

        head = _read_http_head(sock)
        head_part, _, rest = head.partition(b"\r\n\r\n")
        status_line, *header_lines = head_part.decode("latin-1").split("\r\n")
        parts = status_line.split(" ", 2)
        if len(parts) < 2 or not parts[1].isdigit():
            raise WSProtocolError(f"bad status line {status_line!r}")
        status = int(parts[1])
        reason = parts[2] if len(parts) > 2 else ""
        resp_headers = {}
        for line in header_lines:
            name, _, value = line.partition(":")
            resp_headers[name.strip().lower()] = value.strip()

        if status != 101:
            # drain a bounded body so 401 responses surface their text
            # (noaa reads the unauthorized body, async.go:440-444)
            body = rest
            want = int(resp_headers.get("content-length", 0) or 0)
            sock.settimeout(1.0)
            try:
                while len(body) < min(want, 65536):
                    chunk = sock.recv(4096)
                    if not chunk:
                        break
                    body += chunk
            except OSError:
                pass
            sock.close()
            raise WSHandshakeError(status, reason, body)

        if resp_headers.get("upgrade", "").lower() != "websocket":
            raise WSProtocolError("101 without Upgrade: websocket")
        if resp_headers.get("sec-websocket-accept") != accept_key(key):
            raise WSProtocolError("Sec-WebSocket-Accept mismatch")

        sock.settimeout(None)
        client = WSClient(sock, url)
        client._buf = rest  # bytes the server pipelined after the 101
        return client
    except BaseException:
        try:
            sock.close()
        except OSError:
            pass
        raise


def server_handshake(
    sock: socket.socket,
    authorize=None,
) -> WSServerConn:
    """Accept-side upgrade for loopback test servers.

    ``authorize(path, headers) -> (status, reason, body) | None``:
    return None to accept, or an HTTP error triple to reject before
    upgrading (how a real Doppler answers a bad token with 401).
    """
    head = _read_http_head(sock)
    head_part, _, rest = head.partition(b"\r\n\r\n")
    request_line, *header_lines = head_part.decode("latin-1").split("\r\n")
    parts = request_line.split(" ")
    if len(parts) != 3 or parts[0] != "GET":
        _plain_http(sock, 400, "Bad Request", b"not a GET")
        raise WSProtocolError(f"bad request line {request_line!r}")
    path = parts[1]
    headers: dict[str, str] = {}
    for line in header_lines:
        name, _, value = line.partition(":")
        headers[name.strip().lower()] = value.strip()

    if authorize is not None:
        verdict = authorize(path, headers)
        if verdict is not None:
            status, reason, body = verdict
            _plain_http(sock, status, reason, body)
            sock.close()
            raise WSHandshakeError(status, reason, body)

    if headers.get("upgrade", "").lower() != "websocket" or (
        "sec-websocket-key" not in headers
    ):
        _plain_http(sock, 400, "Bad Request", b"not a websocket upgrade")
        sock.close()
        raise WSProtocolError("not a websocket upgrade request")

    accept = accept_key(headers["sec-websocket-key"])
    sock.sendall(
        (
            "HTTP/1.1 101 Switching Protocols\r\n"
            "Upgrade: websocket\r\n"
            "Connection: Upgrade\r\n"
            f"Sec-WebSocket-Accept: {accept}\r\n\r\n"
        ).encode("latin-1")
    )
    conn = WSServerConn(sock, path, headers)
    conn._buf = rest
    return conn


def _plain_http(
    sock: socket.socket, status: int, reason: str, body: bytes
) -> None:
    try:
        sock.sendall(
            (
                f"HTTP/1.1 {status} {reason}\r\n"
                f"Content-Length: {len(body)}\r\n"
                "Content-Type: text/plain\r\n\r\n"
            ).encode("latin-1")
            + body
        )
    except OSError:
        pass
