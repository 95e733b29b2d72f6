"""Seeded open-loop WebSocket load generator: one process, one thread, one
connection.

It is the WebSocket server the engine's `websocket` source connects to.
Frames are built from the seed (see frames.py) and written with buffered
RFC 6455 writes: every frame due at one wake-up goes out in one `sendall`.

Protocol with the parent, one line each way:
  stdout  PORT <port>               listening on 127.0.0.1
          CONN <k> <epoch_ms>       k-th client handshake completed
          CLOSED <k> <epoch_ms>     k-th client connection closed
          PHASE1 <n> <epoch_ms>     last of the n fixed-rate frames written
          BURST <epoch_ms>          last frame of one burst written
          REPORT <json>             run summary, then exit
  stdin   GO                        start the fixed-rate phase on the newest connection
          BURST                     write the next burst at top speed
          QUIT                      report and exit

Each frame carries its scheduled send time (`sent_us`). Phase 1 frame i is
due at t0 + i / rate; every frame of a burst is due when its BURST arrives. How late
the generator ran is reported per frame as (time its write finished) - (time
it was due), over the fixed-rate phase.
"""

import argparse
import base64
import hashlib
import json
import os
import select
import socket
import struct
import sys
import time

import frames

GUID = b"258EAFA5-E914-47DA-95CA-C5AB0DC85B11"


def header(n, opcode=0x1):
    if n < 126:
        return struct.pack("!BB", 0x80 | opcode, n)
    if n < 65536:
        return struct.pack("!BBH", 0x80 | opcode, 126, n)
    return struct.pack("!BBQ", 0x80 | opcode, 127, n)


def frame(text):
    data = text.encode()
    return header(len(data)) + data


def say(line):
    sys.stdout.write(line + "\n")
    sys.stdout.flush()


class Conn:
    """One client connection: handshake, then answer pings and closes."""

    def __init__(self, sock):
        self.sock = sock
        self.buf = b""
        req = b""
        while b"\r\n\r\n" not in req:
            chunk = sock.recv(4096)
            if not chunk:
                raise ConnectionError("closed during handshake")
            req += chunk
        head, self.buf = req.split(b"\r\n\r\n", 1)
        key = next(line.split(b":", 1)[1].strip() for line in head.split(b"\r\n")
                   if line.lower().startswith(b"sec-websocket-key:"))
        accept = base64.b64encode(hashlib.sha1(key + GUID).digest())
        sock.sendall(b"HTTP/1.1 101 Switching Protocols\r\nUpgrade: websocket\r\n"
                     b"Connection: Upgrade\r\nSec-WebSocket-Accept: " + accept + b"\r\n\r\n")
        self.open = True
        self.why = ""  # why the connection closed

    def service(self):
        """Read what the client sent; returns False once it has closed."""
        try:
            chunk = self.sock.recv(65536)
        except OSError:
            chunk = b""
        if not chunk:
            self.why = "eof"
            self.close()
            return False
        self.buf += chunk
        while len(self.buf) >= 2:
            b0, b1 = self.buf[0], self.buf[1]
            n, pos = b1 & 0x7F, 2
            if n == 126:
                if len(self.buf) < 4:
                    break
                n, pos = struct.unpack("!H", self.buf[2:4])[0], 4
            elif n == 127:
                if len(self.buf) < 10:
                    break
                n, pos = struct.unpack("!Q", self.buf[2:10])[0], 10
            masked = b1 & 0x80
            end = pos + (4 if masked else 0) + n
            if len(self.buf) < end:
                break
            data = self.buf[end - n:end]
            if masked:
                mask = self.buf[pos:pos + 4]
                data = bytes(c ^ mask[j % 4] for j, c in enumerate(data))
            self.buf = self.buf[end:]
            opcode = b0 & 0x0F
            if opcode == 0x9:  # ping
                self.sock.sendall(header(len(data), 0xA) + data)
            elif opcode == 0x8:  # close
                self.why = f"close frame {data!r}"
                try:
                    self.sock.sendall(header(len(data), 0x8) + data)
                except OSError:
                    pass
                self.close()
                return False
        return True

    def close(self):
        if self.open:
            self.open = False
            try:
                self.sock.close()
            except OSError:
                pass


class Generator:
    def __init__(self, args):
        self.args = args
        self.n1 = frames.phase1_frames(args.rate, args.warmup, args.seconds)
        self.lsock = socket.socket()
        self.lsock.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        self.lsock.bind(("127.0.0.1", 0))
        self.lsock.listen(8)
        self.conns = []
        self.stdin_buf = b""
        self.commands = []

    def prepare(self):
        """Build every frame body (while the engine starts up)."""
        self.bodies, _ = frames.BODIES[self.args.workload](
            self.args.seed, self.n1 + self.args.bursts * self.args.burst, self.args.rate)
        if self.args.input:  # the update stream, for the reference computation
            with open(self.args.input, "w") as f:
                for i, b in enumerate(self.bodies):
                    f.write(f'{{"seq":{i},' + b + "\n")

    # -- event loop -------------------------------------------------------
    def poll(self, timeout):
        """Wait up to `timeout` s for client traffic, connections or a command."""
        socks = [self.lsock, 0] + [c.sock for c in self.conns if c.open]
        ready, _, _ = select.select(socks, [], [], max(0.0, timeout))
        for s in ready:
            if s is self.lsock:
                sock, _ = self.lsock.accept()
                sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
                self.conns.append(Conn(sock))
                say(f"CONN {len(self.conns)} {time.time() * 1000:.3f}")
            elif s == 0:
                chunk = os.read(0, 4096)
                if not chunk:
                    self.commands.append("QUIT")
                self.stdin_buf += chunk
                while b"\n" in self.stdin_buf:
                    line, self.stdin_buf = self.stdin_buf.split(b"\n", 1)
                    self.commands.append(line.decode().strip())
            else:
                for k, c in enumerate(self.conns, 1):
                    if c.sock is s and c.open and not c.service():
                        say(f"CLOSED {k} {time.time() * 1000:.3f} {c.why}")

    def wait_command(self):
        while not self.commands:
            self.poll(1.0)
        return self.commands.pop(0)

    def live(self):
        live = [c for c in self.conns if c.open]
        if not live:
            raise ConnectionError("no open client connection")
        return live[-1]

    # -- phases -----------------------------------------------------------
    def phase1(self):
        rate, n1 = self.args.rate, self.n1
        t0 = time.time() + 0.02
        t0_us = int(t0 * 1e6)
        late = []
        i = 0
        while i < n1:
            conn = self.live()
            now = time.time()
            due = min(n1, int((now - t0) * rate) + 1)
            if due > i:
                buf = b"".join(
                    frame(frames.payload(j, t0_us + j * 1_000_000 // rate, self.bodies[j]))
                    for j in range(i, due))
                conn.sock.sendall(buf)
                done_us = time.time() * 1e6
                late.extend(done_us - (t0_us + j * 1_000_000 // rate) for j in range(i, due))
                i = due
            if i < n1:
                self.poll(t0 + i / rate - time.time())
        say(f"PHASE1 {n1} {time.time() * 1000:.3f}")
        return t0_us, late

    def burst(self, first):
        conn = self.live()
        t_us = int(time.time() * 1e6)
        n = first + self.args.burst
        for a in range(first, n, 2000):
            conn.sock.sendall(b"".join(
                frame(frames.payload(j, t_us, self.bodies[j])) for j in range(a, min(n, a + 2000))))
        say(f"BURST {time.time() * 1000:.3f}")
        return t_us

    def run(self):
        say(f"PORT {self.lsock.getsockname()[1]}")
        self.prepare()
        report = {"frames_sent": 0, "bursts_us": []}
        try:
            while True:
                cmd = self.wait_command()
                if cmd == "GO":
                    t0_us, late = self.phase1()
                    report.update(t0_us=t0_us, n1=self.n1, frames_sent=self.n1)
                    skip = int(self.args.rate * self.args.warmup)
                    measured = sorted(late[skip:]) or [0.0]
                    report["late_p99_ms"] = measured[int(0.99 * (len(measured) - 1))] / 1000
                    report["late_max_ms"] = measured[-1] / 1000
                elif cmd == "BURST" and len(report["bursts_us"]) < self.args.bursts:
                    report["bursts_us"].append(self.burst(report["frames_sent"]))
                    report["frames_sent"] += self.args.burst
                elif cmd == "QUIT":
                    break
        finally:
            report["connections"] = len(self.conns)
            say("REPORT " + json.dumps(report))
            for c in self.conns:
                c.close()
            self.lsock.close()


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(frames.BODIES))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--rate", type=int, required=True, help="phase-1 frames per second")
    p.add_argument("--warmup", type=float, required=True, help="phase-1 seconds not measured")
    p.add_argument("--seconds", type=float, required=True, help="phase-1 seconds measured")
    p.add_argument("--burst", type=int, required=True, help="frames in one phase-2 burst")
    p.add_argument("--bursts", type=int, required=True, help="phase-2 bursts")
    p.add_argument("--input", help="also write every update (without send time) here")
    Generator(p.parse_args()).run()


if __name__ == "__main__":
    main()
