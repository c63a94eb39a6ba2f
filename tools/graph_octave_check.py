"""Former name of ``python tools/skew_audit.py graph_octave``, kept for the comments that cite it."""
if __name__ == "__main__":
    import skew_audit

    skew_audit.main("graph_octave")
