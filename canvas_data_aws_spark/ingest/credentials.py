"""secrets_resolution analog: API credential resolution for the sync
engine's manifest/fetch clients.

Branch-for-branch parity with the reference's credential bootstrap
(/root/reference/lambda/sync-canvas-data-files.py:17-24): try the secret
store first — here a JSON file standing in for the managed secret, same
``{"api_key": ..., "api_secret": ...}`` shape — and fall back to the
``api_key`` / ``api_secret`` environment variables. The resolved pair feeds
request signing (the reference hands it to its API client at :46; here
``api_client.signed_headers`` signs every API call and, through
``http_fetcher(headers=...)``, every file download).
"""

from __future__ import annotations

import json
import os
from collections.abc import Mapping
from dataclasses import dataclass


class CredentialsError(Exception):
    """No usable credential source."""


@dataclass(frozen=True)
class ApiCredentials:
    api_key: str
    api_secret: str


def resolve_credentials(
    secret_file: str | None = None,
    env: Mapping[str, str] | None = None,
) -> ApiCredentials:
    """Secret-store-first, env-fallback resolution
    (sync-canvas-data-files.py:17-24). ``secret_file`` is the engine's
    stand-in for the managed secret id: a JSON document with api_key /
    api_secret fields."""
    env = os.environ if env is None else env
    if secret_file:
        try:
            with open(secret_file) as f:
                blob = json.load(f)
            return ApiCredentials(str(blob["api_key"]), str(blob["api_secret"]))
        except (OSError, ValueError, KeyError):
            pass  # fall through to env, like the reference's except-branch
    try:
        return ApiCredentials(env["api_key"], env["api_secret"])
    except KeyError as e:
        raise CredentialsError(
            "no credentials: provide a secret_file or api_key/api_secret env vars"
        ) from e

