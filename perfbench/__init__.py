"""Dashboard-refresh benchmark (see README.md)."""
