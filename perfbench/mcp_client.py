"""Minimal MCP streamable-HTTP client: one session over one keep-alive
connection (initialize, tools/call ..., DELETE)."""

from __future__ import annotations

import http.client
import itertools
import json

PROTOCOL_VERSION = "2025-03-26"


class McpError(RuntimeError):
    pass


class McpSession:
    def __init__(self, port: int, path: str = "/mcp", timeout: float = 120):
        self.path = path
        self.conn = http.client.HTTPConnection("127.0.0.1", port,
                                               timeout=timeout)
        self.ids = itertools.count(1)
        self.sid: str | None = None
        resp, headers = self._post({
            "jsonrpc": "2.0", "id": next(self.ids), "method": "initialize",
            "params": {"protocolVersion": PROTOCOL_VERSION,
                       "capabilities": {},
                       "clientInfo": {"name": "perfbench", "version": "1"}},
        })
        self.sid = headers.get("Mcp-Session-Id")
        if "result" not in resp or not self.sid:
            raise McpError(f"initialize failed: {resp}")
        self._post({"jsonrpc": "2.0",
                    "method": "notifications/initialized"})

    def _post(self, msg: dict) -> tuple[dict, dict]:
        headers = {"Content-Type": "application/json",
                   "Accept": "application/json, text/event-stream"}
        if self.sid:
            headers["Mcp-Session-Id"] = self.sid
        self.conn.request("POST", self.path, json.dumps(msg), headers)
        r = self.conn.getresponse()
        body = r.read()
        if r.status == 202:
            return {}, dict(r.getheaders())
        if r.status != 200:
            raise McpError(f"HTTP {r.status}: {body[:200]!r}")
        return json.loads(body), dict(r.getheaders())

    def search(self, tool: str, query: str, top_k: int) -> list[dict]:
        """One tools/call; returns the result list or raises McpError."""
        resp, _ = self._post({
            "jsonrpc": "2.0", "id": next(self.ids), "method": "tools/call",
            "params": {"name": tool,
                       "arguments": {"query": query, "top_k": top_k}},
        })
        res = resp.get("result")
        if res is None or res.get("isError"):
            raise McpError(f"tools/call {query!r} failed: {resp}")
        return res["structuredContent"]["results"]

    def close(self) -> None:
        try:
            self.conn.request("DELETE", self.path,
                              headers={"Mcp-Session-Id": self.sid or ""})
            self.conn.getresponse().read()
        finally:
            self.conn.close()
