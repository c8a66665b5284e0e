"""Layered benchmark for the transcript-extraction engine (see README.md)."""
