"""A minimal MQTT 3.1.1 publisher: CONNECT, QoS-1 PUBLISH, PUBACK, DISCONNECT.

One TCP connection; a reader thread stamps each PUBACK's arrival time.
"""
import socket
import struct
import threading
import time


def _varint(n):
    out = bytearray()
    while True:
        b, n = n % 128, n // 128
        out.append(b | (0x80 if n else 0))
        if not n:
            return bytes(out)


def _str(s):
    b = s.encode("utf-8")
    return struct.pack("!H", len(b)) + b


class Publisher:
    def __init__(self, port, client_id="perfbench-gen"):
        self.sock = socket.create_connection(("127.0.0.1", port), timeout=10)
        self.sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        body = _str("MQTT") + bytes([4, 0x02]) + struct.pack("!H", 0) + _str(client_id)
        self.sock.sendall(bytes([0x10]) + _varint(len(body)) + body)
        ack = self._read_exact(4)
        if ack[0] != 0x20 or ack[3] != 0:
            raise ConnectionError("CONNACK refused: %r" % ack)
        self.sock.settimeout(None)
        self.acked = {}
        self.lock = threading.Lock()
        self._pid = 0
        self.reader = threading.Thread(target=self._read_loop, name="puback", daemon=True)
        self.reader.start()

    def _read_exact(self, n):
        buf = b""
        while len(buf) < n:
            chunk = self.sock.recv(n - len(buf))
            if not chunk:
                raise ConnectionError("connection closed")
            buf += chunk
        return buf

    def _read_loop(self):
        try:
            while True:
                head = self._read_exact(1)[0]
                mult, length = 1, 0
                while True:
                    b = self._read_exact(1)[0]
                    length += (b & 0x7F) * mult
                    mult *= 128
                    if not b & 0x80:
                        break
                body = self._read_exact(length) if length else b""
                if head >> 4 == 4:  # PUBACK
                    pid = struct.unpack("!H", body[:2])[0]
                    with self.lock:
                        self.acked[pid] = time.time()
        except (ConnectionError, OSError):
            return

    def publish(self, topic, payload):
        """QoS-1 publish; returns the packet id whose PUBACK time lands in
        `acked`."""
        self._pid = self._pid % 65535 + 1
        body = _str(topic) + struct.pack("!H", self._pid) + payload.encode("utf-8")
        self.sock.sendall(bytes([0x32]) + _varint(len(body)) + body)
        return self._pid

    def close(self):
        try:
            self.sock.sendall(bytes([0xE0, 0]))
            self.sock.shutdown(socket.SHUT_RDWR)
        except OSError:
            pass
        self.sock.close()
        self.reader.join(5)
