/* Native tag scan, tree build and subtree text for
   exstruct_spark.kernels.dom, and the canonical JSON encoder for
   exstruct_spark.kernels.serialize.

   parse() is a port of dom._parse_html_fast, which stays the
   specification: it builds the same dom.Node trees (tag, attrs,
   children, pi, doc_nodes, i0/i1, the source offsets s0/s1/e0/e1 and
   unrendered, False)
   and is tested against it differentially.  Only the scan and build
   loop live here.  The tag tables, the attribute parser with its cache,
   the tag-info cache and entity decoding stay in dom.py and are handed
   over once by init().

   The scan reproduces dom._TOKEN_RE.search exactly:
     - at each '<' the alternatives are tried in pattern order (start
       tag, end tag, comment, CDATA, '<!...', '<?...'); a '<' that starts
       none of them stays inside the text gap;
     - the start-tag attribute run is possessive, so '(/?)' never
       captures and a quote with no closing partner fails the tag;
     - '$' in the comment and CDATA alternatives also matches just
       before a final '\n';
   and the raw-text close search reproduces re.compile(r"</tag\b", re.I)
   (Unicode case folding of ASCII letters, Unicode word boundary).

   text() is the one subtree text walk, a port of dom._text_content_py
   (its specification, tested against it differentially).  init() also
   makes it Node.text_content, a method descriptor, so a call runs no
   Python frame.  It walks the children lists through the Node slots
   with a heap stack (no recursion, whatever the depth), skips
   RAW_TEXT_SKIP subtrees and, when the node it starts from is not
   marked, the subtree of every child whose unrendered slot is True (a
   walk started inside a marked subtree reads all of it), puts a
   space around each BLOCK_ELEMENTS member and <br>, and collapses
   whitespace as it writes, which is
   _WS_RE.sub(" ", s).strip(): re's \s and str.strip() both test
   Py_UNICODE_ISSPACE.

   canonical_json() strips empty values and writes compact JSON in one
   walk, a port of serialize._canonical_json_py (strip_empty, then
   json.dumps), its specification, tested against it differentially.
   It returns None for values outside its exact types, and the
   specification then runs. */

#define PY_SSIZE_T_CLEAN
#include <Python.h>
#include <structmember.h>
#include <string.h>

static PyTypeObject *node_type;   /* dom.Node */
static PyObject *no_attrs;        /* dom._NO_ATTRS */
static PyObject *attr_cache;      /* dom._ATTR_CACHE */
static PyObject *parse_attrs;     /* dom._parse_attrs */
static PyObject *tag_info_cache;  /* dom._TAG_INFO */
static PyObject *tag_info;        /* dom._tag_info */
static PyObject *unescape;        /* html.unescape */
static PyObject *barriers;        /* dom._CLOSE_BARRIERS */
static PyObject *raw_text_skip;   /* dom.RAW_TEXT_SKIP */
static PyObject *block_elements;  /* dom.BLOCK_ELEMENTS */
static PyObject *doc_tag;         /* "#document" */

/* byte offsets of Node's __slots__ */
static Py_ssize_t off_tag, off_attrs, off_children, off_doc_nodes,
    off_i0, off_i1, off_pi, off_s0, off_s1, off_e0, off_e1, off_unrendered;

#define SLOT(obj, off) (*(PyObject **)((char *)(obj) + (off)))

/* store a new reference into a slot, releasing the old value */
static inline void
slot_set(PyObject *obj, Py_ssize_t off, PyObject *value)
{
    PyObject *old = SLOT(obj, off);
    SLOT(obj, off) = value;
    Py_XDECREF(old);
}

typedef struct {
    int kind;
    const void *data;
    Py_ssize_t n;
} Text;

#define RD(t, i) PyUnicode_READ((t)->kind, (t)->data, (i))

/* index of ch in [i, n), or -1 */
static Py_ssize_t
find_ch_in(const Text *t, Py_ssize_t i, Py_ssize_t n, Py_UCS4 ch)
{
    if (i >= n)
        return -1;
    switch (t->kind) {
    case PyUnicode_1BYTE_KIND: {
        const Py_UCS1 *d = (const Py_UCS1 *)t->data;
        const Py_UCS1 *p = memchr(d + i, (int)ch, (size_t)(n - i));
        return p ? (Py_ssize_t)(p - d) : -1;
    }
    case PyUnicode_2BYTE_KIND: {
        const Py_UCS2 *d = (const Py_UCS2 *)t->data;
        for (; i < n; i++)
            if (d[i] == ch)
                return i;
        return -1;
    }
    default: {
        const Py_UCS4 *d = (const Py_UCS4 *)t->data;
        for (; i < n; i++)
            if (d[i] == ch)
                return i;
        return -1;
    }
    }
}

static inline Py_ssize_t
find_ch(const Text *t, Py_ssize_t i, Py_UCS4 ch)
{
    return find_ch_in(t, i, t->n, ch);
}

/* index of the three-character ASCII terminator s in [i, n), or -1 */
static Py_ssize_t
find_term(const Text *t, Py_ssize_t i, const char *s)
{
    while ((i = find_ch(t, i, (Py_UCS4)s[0])) >= 0) {
        if (i + 2 < t->n && RD(t, i + 1) == (Py_UCS4)s[1]
                && RD(t, i + 2) == (Py_UCS4)s[2])
            return i;
        i++;
    }
    return -1;
}

static inline int
is_alpha(Py_UCS4 c)
{
    return (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z');
}

static inline int
is_name(Py_UCS4 c)
{
    return is_alpha(c) || (c >= '0' && c <= '9') || c == ':' || c == '-';
}

static inline int
is_word(Py_UCS4 c)
{
    return Py_UNICODE_ISALNUM(c) || c == '_';
}

/* c matches the lowercase ASCII letter l under re.IGNORECASE with
   Unicode case folding */
static inline int
fold_eq(Py_UCS4 c, Py_UCS4 l)
{
    if ((c | 0x20) == l)
        return 1;
    switch (l) {
    case 'i': return c == 0x130 || c == 0x131;
    case 'k': return c == 0x212A;
    case 's': return c == 0x17F;
    default: return 0;
    }
}

/* first '</name\b' (case-insensitive) at or after i, or -1 */
static Py_ssize_t
find_raw_close(const Text *t, Py_ssize_t i, PyObject *name)
{
    Py_ssize_t m = PyUnicode_GET_LENGTH(name);
    int nk = PyUnicode_KIND(name);
    const void *nd = PyUnicode_DATA(name);
    while ((i = find_ch(t, i, '<')) >= 0) {
        Py_ssize_t j = i + 1, k;
        if (j < t->n && RD(t, j) == '/' && j + m < t->n) {
            for (k = 0; k < m; k++)
                if (!fold_eq(RD(t, j + 1 + k), PyUnicode_READ(nk, nd, k)))
                    break;
            if (k == m) {
                Py_ssize_t e = j + 1 + m;
                if (e >= t->n || !is_word(RD(t, e)))
                    return i;
            }
        }
        i++;
    }
    return -1;
}

enum { TOK_NONE, TOK_START, TOK_END, TOK_SKIP };

typedef struct {
    Py_ssize_t end;      /* one past the token */
    Py_ssize_t n0, n1;   /* tag name */
    Py_ssize_t a0, a1;   /* start-tag attribute run */
} Token;

/* end of a comment/CDATA body starting at b: the terminator, else '$' */
static Py_ssize_t
lazy_body_end(const Text *t, Py_ssize_t b, const char *term)
{
    Py_ssize_t q = find_term(t, b, term);
    if (q >= 0)
        return q + 3;
    if (t->n - 1 >= b && RD(t, t->n - 1) == '\n')
        return t->n - 1;
    return t->n;
}

/* the token _TOKEN_RE matches at i (t[i] == '<'), if any */
static int
match_token(const Text *t, Py_ssize_t i, Token *tok)
{
    Py_ssize_t n = t->n, j, k;
    Py_UCS4 c;
    if (i + 1 >= n)
        return TOK_NONE;
    c = RD(t, i + 1);
    if (is_alpha(c)) {
        for (j = i + 2; j < n && is_name(RD(t, j)); j++)
            ;
        /* possessive (?:[^>"']+|"[^"]*"|'[^']*')*+ */
        for (k = j; k < n; ) {
            Py_UCS4 a = RD(t, k);
            if (a == '>')
                break;
            if (a == '"' || a == '\'') {
                Py_ssize_t q = find_ch(t, k + 1, a);
                if (q < 0)
                    break;
                k = q + 1;
            }
            else
                k++;
        }
        if (k < n && RD(t, k) == '>') {
            tok->n0 = i + 1;
            tok->n1 = j;
            tok->a0 = j;
            tok->a1 = k;
            tok->end = k + 1;
            return TOK_START;
        }
        return TOK_NONE;
    }
    if (c == '/') {
        if (i + 2 < n && is_alpha(RD(t, i + 2))) {
            for (j = i + 3; j < n && is_name(RD(t, j)); j++)
                ;
            k = find_ch(t, j, '>');
            if (k >= 0) {
                tok->n0 = i + 2;
                tok->n1 = j;
                tok->end = k + 1;
                return TOK_END;
            }
        }
        return TOK_NONE;
    }
    if (c == '!') {
        if (i + 3 < n && RD(t, i + 2) == '-' && RD(t, i + 3) == '-') {
            tok->end = lazy_body_end(t, i + 4, "-->");
            return TOK_SKIP;
        }
        if (i + 8 < n) {
            static const char cdata[] = "[CDATA[";
            for (k = 0; k < 7; k++)
                if (RD(t, i + 2 + k) != (Py_UCS4)cdata[k])
                    break;
            if (k == 7) {
                tok->end = lazy_body_end(t, i + 9, "]]>");
                return TOK_SKIP;
            }
        }
    }
    if (c == '!' || c == '?') {
        k = find_ch(t, i + 2, '>');
        tok->end = k < 0 ? n : k + 1;
        return TOK_SKIP;
    }
    return TOK_NONE;
}

/* append html[a:b] to list, entity-decoded when it holds an '&' */
static int
append_text(PyObject *html, const Text *t, Py_ssize_t a, Py_ssize_t b,
            PyObject *list, int decode)
{
    int rc;
    PyObject *s = PyUnicode_Substring(html, a, b);
    if (s == NULL)
        return -1;
    if (decode && find_ch_in(t, a, b, '&') >= 0) {
        PyObject *d = PyObject_CallOneArg(unescape, s);
        Py_DECREF(s);
        if (d == NULL)
            return -1;
        s = d;
    }
    rc = PyList_Append(list, s);
    Py_DECREF(s);
    return rc;
}

/* the open-element stack; entries borrow from doc_nodes */
typedef struct {
    PyObject **node;
    Py_ssize_t len, cap;
} Stack;

static int
stack_push(Stack *s, PyObject *node)
{
    if (s->len == s->cap) {
        Py_ssize_t cap = s->cap ? 2 * s->cap : 64;
        PyObject **p = PyMem_Realloc(s->node, cap * sizeof(PyObject *));
        if (p == NULL) {
            PyErr_NoMemory();
            return -1;
        }
        s->node = p;
        s->cap = cap;
    }
    s->node[s->len++] = node;
    return 0;
}

/* set i1 = len(doc_nodes) on stack[i:] and pop them.  The closing
   token starts at `at`: stack[i] ends at e1 = `end` (past its own end
   tag), the elements above it are closed implicitly (e0 = e1 = at). */
static int
close_from(Stack *s, Py_ssize_t i, PyObject *doc_nodes, Py_ssize_t at,
           Py_ssize_t end)
{
    PyObject *i1 = PyLong_FromSsize_t(PyList_GET_SIZE(doc_nodes));
    PyObject *v_at = PyLong_FromSsize_t(at);
    PyObject *v_end = at == end ? v_at : PyLong_FromSsize_t(end);
    Py_ssize_t k;
    if (i1 == NULL || v_at == NULL || v_end == NULL) {
        Py_XDECREF(i1);
        Py_XDECREF(v_at);
        if (v_end != v_at)
            Py_XDECREF(v_end);
        return -1;
    }
    for (k = i; k < s->len; k++) {
        PyObject *e1 = k == i ? v_end : v_at;
        Py_INCREF(i1);
        slot_set(s->node[k], off_i1, i1);
        Py_INCREF(v_at);
        slot_set(s->node[k], off_e0, v_at);
        Py_INCREF(e1);
        slot_set(s->node[k], off_e1, e1);
    }
    Py_DECREF(i1);
    Py_DECREF(v_at);
    if (v_end != v_at)
        Py_DECREF(v_end);
    s->len = i;
    return 0;
}

static inline int
str_eq(PyObject *a, PyObject *b)
{
    Py_ssize_t n;
    if (a == b)
        return 1;
    n = PyUnicode_GET_LENGTH(a);
    return n == PyUnicode_GET_LENGTH(b)
        && PyUnicode_KIND(a) == PyUnicode_KIND(b)
        && memcmp(PyUnicode_DATA(a), PyUnicode_DATA(b),
                  (size_t)n * PyUnicode_KIND(a)) == 0;
}

/* pi: the parent's i0 object (None for the root); [s0, s1): the start
   tag, where a leaf also ends (e0 = e1 = s1) until its scope closes */
static PyObject *
new_node(PyObject *tag, PyObject *attrs, PyObject *doc_nodes, PyObject *pi,
         Py_ssize_t s0, Py_ssize_t s1)
{
    Py_ssize_t i0 = PyList_GET_SIZE(doc_nodes);
    PyObject *node, *children, *v0, *v1, *vs0, *vs1;
    node = node_type->tp_alloc(node_type, 0);
    if (node == NULL)
        return NULL;
    children = PyList_New(0);
    v0 = PyLong_FromSsize_t(i0);
    v1 = PyLong_FromSsize_t(i0 + 1);  /* leaf until its scope closes */
    vs0 = PyLong_FromSsize_t(s0);
    vs1 = PyLong_FromSsize_t(s1);
    if (children == NULL || v0 == NULL || v1 == NULL || vs0 == NULL
            || vs1 == NULL) {
        Py_XDECREF(children);
        Py_XDECREF(v0);
        Py_XDECREF(v1);
        Py_XDECREF(vs0);
        Py_XDECREF(vs1);
        Py_DECREF(node);
        return NULL;
    }
    Py_INCREF(tag);
    SLOT(node, off_tag) = tag;
    Py_INCREF(attrs);
    SLOT(node, off_attrs) = attrs;
    SLOT(node, off_children) = children;
    Py_INCREF(doc_nodes);
    SLOT(node, off_doc_nodes) = doc_nodes;
    SLOT(node, off_i0) = v0;
    SLOT(node, off_i1) = v1;
    Py_INCREF(pi);
    SLOT(node, off_pi) = pi;
    SLOT(node, off_s0) = vs0;
    Py_INCREF(vs1);
    Py_INCREF(vs1);
    SLOT(node, off_s1) = vs1;
    SLOT(node, off_e0) = vs1;
    SLOT(node, off_e1) = vs1;
    SLOT(node, off_unrendered) = Py_NewRef(Py_False);
    if (PyList_Append(doc_nodes, node) < 0) {
        Py_DECREF(node);
        return NULL;
    }
    Py_DECREF(node);  /* doc_nodes holds it */
    return node;
}

/* the cached (tag, closers, is_void, is_raw) tuple of a spelling;
   new reference */
static PyObject *
lookup_tag(PyObject *html, Py_ssize_t a, Py_ssize_t b)
{
    PyObject *spelling = PyUnicode_Substring(html, a, b), *info;
    if (spelling == NULL)
        return NULL;
    info = PyDict_GetItemWithError(tag_info_cache, spelling);
    if (info != NULL) {
        Py_INCREF(info);
    }
    else if (!PyErr_Occurred()) {
        info = PyObject_CallOneArg(tag_info, spelling);
        if (info != NULL && !(PyTuple_Check(info)
                              && PyTuple_GET_SIZE(info) == 4)) {
            PyErr_SetString(PyExc_TypeError,
                            "_tag_info must return a 4-tuple");
            Py_CLEAR(info);
        }
    }
    Py_DECREF(spelling);
    return info;
}

/* attrs of a start tag whose attribute run is [a, b); new reference */
static PyObject *
lookup_attrs(PyObject *html, const Text *t, Py_ssize_t a, Py_ssize_t b)
{
    PyObject *raw, *attrs;
    Py_ssize_t k;
    for (k = a; k < b && Py_UNICODE_ISSPACE(RD(t, k)); k++)
        ;
    if (k == b) {  /* empty or all whitespace */
        Py_INCREF(no_attrs);
        return no_attrs;
    }
    raw = PyUnicode_Substring(html, a, b);
    if (raw == NULL)
        return NULL;
    attrs = PyDict_GetItemWithError(attr_cache, raw);
    if (attrs != NULL)
        Py_INCREF(attrs);
    else if (!PyErr_Occurred())
        attrs = PyObject_CallOneArg(parse_attrs, raw);
    Py_DECREF(raw);
    return attrs;
}

/* xml_mode self-close: attr_raw.rstrip().endswith("/") */
static int
ends_with_slash(const Text *t, Py_ssize_t a, Py_ssize_t b)
{
    while (b > a && Py_UNICODE_ISSPACE(RD(t, b - 1)))
        b--;
    return b > a && RD(t, b - 1) == '/';
}

static PyObject *
build(PyObject *html, int xml_mode)
{
    Text t;
    Token tok = {0, 0, 0, 0, 0};
    Stack st = {NULL, 0, 0};
    PyObject *doc_nodes = NULL, *root = NULL, *info = NULL;
    Py_ssize_t pos = 0, scan = 0, i, k;

    t.kind = PyUnicode_KIND(html);
    t.data = PyUnicode_DATA(html);
    t.n = PyUnicode_GET_LENGTH(html);

    doc_nodes = PyList_New(0);
    if (doc_nodes == NULL)
        return NULL;
    root = new_node(doc_tag, no_attrs, doc_nodes, Py_None, 0, 0);
    if (root == NULL)
        goto error;
    Py_INCREF(root);
    if (stack_push(&st, root) < 0)
        goto error;

    for (;;) {
        PyObject *top, *tag, *closers, *node, *attrs;
        int kind_tok, is_void, is_raw;
        i = find_ch(&t, scan, '<');
        if (i < 0)
            break;
        kind_tok = match_token(&t, i, &tok);
        if (kind_tok == TOK_NONE) {
            scan = i + 1;
            continue;
        }
        top = st.node[st.len - 1];
        if (i > pos && append_text(html, &t, pos, i,
                                   SLOT(top, off_children), 1) < 0)
            goto error;
        pos = scan = tok.end;
        if (kind_tok == TOK_SKIP)
            continue;  /* comments, CDATA, doctype, processing instructions */
        info = lookup_tag(html, tok.n0, tok.n1);
        if (info == NULL)
            goto error;
        tag = PyTuple_GET_ITEM(info, 0);
        if (!PyUnicode_Check(tag)) {
            PyErr_SetString(PyExc_TypeError, "tag info: tag must be str");
            goto error;
        }
        closers = PyTuple_GET_ITEM(info, 1);
        if ((is_void = PyObject_IsTrue(PyTuple_GET_ITEM(info, 2))) < 0
                || (is_raw = PyObject_IsTrue(PyTuple_GET_ITEM(info, 3))) < 0)
            goto error;

        if (kind_tok == TOK_END) {
            if (!(is_void && !xml_mode)) {  /* void end tag: ignored */
                for (k = st.len - 1; k > 0; k--) {
                    if (str_eq(SLOT(st.node[k], off_tag), tag)) {
                        if (close_from(&st, k, doc_nodes, i, tok.end) < 0)
                            goto error;
                        break;
                    }
                }
                /* else: stray end tag ignored */
            }
            Py_CLEAR(info);
            continue;
        }

        if (closers != Py_None) {
            int has = PyObject_IsTrue(closers);
            if (has < 0)
                goto error;
            for (k = st.len - 1; has && k > 0; k--) {
                PyObject *tk = SLOT(st.node[k], off_tag);
                int hit = PySequence_Contains(closers, tk);
                if (hit < 0)
                    goto error;
                if (hit) {
                    if (close_from(&st, k, doc_nodes, i, i) < 0)
                        goto error;
                    break;
                }
                hit = PySequence_Contains(barriers, tk);
                if (hit < 0)
                    goto error;
                if (hit)
                    break;
            }
        }
        attrs = lookup_attrs(html, &t, tok.a0, tok.a1);
        if (attrs == NULL)
            goto error;
        node = new_node(tag, attrs, doc_nodes,
                        SLOT(st.node[st.len - 1], off_i0), i, tok.end);
        Py_DECREF(attrs);
        if (node == NULL)
            goto error;
        if (PyList_Append(SLOT(st.node[st.len - 1], off_children), node) < 0)
            goto error;
        if (xml_mode ? ends_with_slash(&t, tok.a0, tok.a1) : is_void) {
            Py_CLEAR(info);
            continue;
        }
        if (is_raw) {
            /* raw text up to the close tag: no entity decoding, no tags */
            PyObject *children = SLOT(node, off_children), *e0, *e1;
            Py_ssize_t c = find_raw_close(&t, pos, tag);
            if (c < 0) {
                if (append_text(html, &t, pos, t.n, children, 0) < 0)
                    goto error;
                pos = c = t.n;
            }
            else {
                if (c > pos && append_text(html, &t, pos, c, children, 0) < 0)
                    goto error;
                k = find_ch(&t, c, '>');
                pos = k < 0 ? t.n : k + 1;
            }
            scan = pos;
            if ((e0 = PyLong_FromSsize_t(c)) == NULL)
                goto error;
            slot_set(node, off_e0, e0);
            if ((e1 = PyLong_FromSsize_t(pos)) == NULL)
                goto error;
            slot_set(node, off_e1, e1);
            Py_CLEAR(info);
            continue;
        }
        Py_CLEAR(info);
        if (stack_push(&st, node) < 0)
            goto error;
    }
    if (pos < t.n && append_text(html, &t, pos, t.n,
                                 SLOT(st.node[st.len - 1], off_children),
                                 1) < 0)
        goto error;
    if (close_from(&st, 0, doc_nodes, t.n, t.n) < 0)
        goto error;
    PyMem_Free(st.node);
    Py_DECREF(doc_nodes);
    return root;

error:
    Py_XDECREF(info);
    PyMem_Free(st.node);
    Py_XDECREF(root);
    Py_XDECREF(doc_nodes);
    return NULL;
}

/* ---- subtree text: dom._text_content_py ------------------------------

   Characters go straight into an output buffer whose kind is the
   narrowest one that holds every character written so far: it starts
   one byte wide and widens only when a wider character is written, so
   the result is built at its final kind and copied once.  Whitespace
   (Py_UNICODE_ISSPACE, the predicate of both re's \s and str.strip)
   is collapsed as it is written: a run becomes one owed space, paid
   only before the next written character, so none leads or trails. */

typedef struct {
    void *buf;
    int kind;             /* 1, 2 or 4 bytes per character */
    Py_UCS4 maxchar;      /* widest character written */
    Py_ssize_t len, cap;  /* in characters */
    int owed;             /* a space is due before the next character */
    char small[512];
} Out;

static int
out_reserve(Out *o, Py_ssize_t extra)
{
    Py_ssize_t cap;
    void *p;
    if (o->len + extra <= o->cap)
        return 0;
    cap = o->cap * 2 > o->len + extra ? o->cap * 2 : o->len + extra;
    if (cap > PY_SSIZE_T_MAX / 4) {
        PyErr_NoMemory();
        return -1;
    }
    if (o->buf == o->small) {
        p = PyMem_Malloc((size_t)cap * o->kind);
        if (p != NULL)
            memcpy(p, o->small, (size_t)o->len * o->kind);
    }
    else
        p = PyMem_Realloc(o->buf, (size_t)cap * o->kind);
    if (p == NULL) {
        PyErr_NoMemory();
        return -1;
    }
    o->buf = p;
    o->cap = cap;
    return 0;
}

/* re-encode the buffer at the kind that holds ch */
static int
out_widen(Out *o, Py_UCS4 ch)
{
    int kind = ch > 0xFFFF ? 4 : 2;
    Py_ssize_t k;
    void *p = PyMem_Malloc((size_t)o->cap * kind);
    if (p == NULL) {
        PyErr_NoMemory();
        return -1;
    }
    for (k = 0; k < o->len; k++)
        PyUnicode_WRITE(kind, p, k, PyUnicode_READ(o->kind, o->buf, k));
    if (o->buf != o->small)
        PyMem_Free(o->buf);
    o->buf = p;
    o->kind = kind;
    return 0;
}

/* append s, collapsing whitespace; room for len(s) + 1 is reserved
   (the owed space plus every character, at most) */
static int
out_text(Out *o, PyObject *s)
{
    Py_ssize_t n = PyUnicode_GET_LENGTH(s), k;
    int kind = PyUnicode_KIND(s);
    const void *d = PyUnicode_DATA(s);
    if (out_reserve(o, n + 1) < 0)
        return -1;
    for (k = 0; k < n; k++) {
        Py_UCS4 c = PyUnicode_READ(kind, d, k);
        if (Py_UNICODE_ISSPACE(c)) {
            o->owed = o->len > 0;
            continue;
        }
        if ((o->kind == 1 && c > 0xFF) || (o->kind == 2 && c > 0xFFFF)) {
            if (out_widen(o, c) < 0)
                return -1;
        }
        if (o->owed) {
            PyUnicode_WRITE(o->kind, o->buf, o->len, ' ');
            o->len++;
            o->owed = 0;
        }
        PyUnicode_WRITE(o->kind, o->buf, o->len, c);
        o->len++;
        if (c > o->maxchar)
            o->maxchar = c;
    }
    return 0;
}

static PyObject *
out_finish(Out *o)
{
    PyObject *s = PyUnicode_New(o->len, o->maxchar);
    if (s != NULL)
        memcpy(PyUnicode_DATA(s), o->buf, (size_t)o->len * o->kind);
    return s;
}

/* one open element of the walk: its children list (a held reference),
   the next index, and whether a space follows its content */
typedef struct {
    PyObject *children;
    Py_ssize_t next;
    int block;
} Frame;

/* 1: text skips the subtree (RAW_TEXT_SKIP), 2: spaces around it
   (BLOCK_ELEMENTS or br), 0: neither; -1 on error */
static int
text_class(PyObject *node)
{
    PyObject *tag = SLOT(node, off_tag);
    int hit;
    if (tag == NULL) {
        PyErr_SetString(PyExc_AttributeError, "tag");
        return -1;
    }
    if ((hit = PySet_Contains(raw_text_skip, tag)) != 0)
        return hit;
    if ((hit = PySet_Contains(block_elements, tag)) != 0)
        return hit < 0 ? -1 : 2;
    return PyUnicode_Check(tag) && PyUnicode_CompareWithASCIIString(
        tag, "br") == 0 ? 2 : 0;
}

static PyObject *
children_of(PyObject *node)
{
    PyObject *children = SLOT(node, off_children);
    if (children == NULL || !PyList_Check(children)) {
        PyErr_SetString(PyExc_TypeError, "Node.children must be a list");
        return NULL;
    }
    Py_INCREF(children);
    return children;
}

static PyObject *
subtree_text(PyObject *node)
{
    Out o;
    Frame small[32], *st = small;
    Py_ssize_t depth = 0, cap = 32;
    PyObject *result = NULL;
    int cls, cut;

    o.buf = o.small;
    o.kind = PyUnicode_1BYTE_KIND;
    o.maxchar = 0;
    o.len = o.owed = 0;
    o.cap = sizeof(o.small);

    Py_INCREF(node);
    cls = text_class(node);
    if (cls < 0)
        goto done;
    if (cls == 1) {
        result = PyUnicode_New(0, 0);
        goto done;
    }
    cut = SLOT(node, off_unrendered) != Py_True;
    if ((st[0].children = children_of(node)) == NULL)
        goto done;
    st[0].next = 0;
    st[0].block = 0;
    depth = 1;
    while (depth) {
        Frame *f = &st[depth - 1];
        PyObject *item;
        if (f->next >= PyList_GET_SIZE(f->children)) {
            if (f->block)
                o.owed = o.len > 0;
            Py_DECREF(f->children);
            depth--;
            continue;
        }
        item = PyList_GET_ITEM(f->children, f->next);
        f->next++;
        if (PyUnicode_CheckExact(item)) {
            if (out_text(&o, item) < 0)
                goto done;
            continue;
        }
        if (!PyObject_TypeCheck(item, node_type)) {
            PyErr_Format(PyExc_TypeError,
                         "Node.children holds a %.100s",
                         Py_TYPE(item)->tp_name);
            goto done;
        }
        if (cut && SLOT(item, off_unrendered) == Py_True)
            continue;
        Py_INCREF(item);
        cls = text_class(item);
        if (cls == 1 || cls < 0) {
            Py_DECREF(item);
            if (cls < 0)
                goto done;
            continue;
        }
        if (cls == 2)
            o.owed = o.len > 0;
        if (depth == cap) {
            Frame *p;
            if (st == small) {
                p = PyMem_Malloc(2 * cap * sizeof(Frame));
                if (p != NULL)
                    memcpy(p, small, sizeof(small));
            }
            else
                p = PyMem_Realloc(st, 2 * cap * sizeof(Frame));
            if (p == NULL) {
                Py_DECREF(item);
                PyErr_NoMemory();
                goto done;
            }
            st = p;
            cap *= 2;
        }
        f = &st[depth];
        f->children = children_of(item);
        Py_DECREF(item);
        if (f->children == NULL)
            goto done;
        f->next = 0;
        f->block = cls == 2;
        depth++;
    }
    result = out_finish(&o);

done:
    while (depth)
        Py_DECREF(st[--depth].children);
    if (st != small)
        PyMem_Free(st);
    if (o.buf != o.small)
        PyMem_Free(o.buf);
    Py_DECREF(node);
    return result;
}

/* ---- canonical JSON: serialize._canonical_json_py ---------------------

   One recursive walk strips empty members (None, "", and dicts, lists
   and tuples with nothing kept below them) and writes compact JSON, as
   json.dumps(strip_empty(v), ensure_ascii=False, separators=(",", ":"))
   does.  Only exact types are handled: dict with str keys, list,
   tuple, str, int, finite float, bool and None.  Anything else, and
   containers nested JSON_MAX_DEPTH deep, makes the walk give up and
   return None, and serialize.canonical_json runs the specification on
   the whole value.

   A member is tested for emptiness (json_kept) before its key or comma
   is written, so nothing written is ever taken back: the writer widens
   its kind for every character it is given and never narrows it again,
   so a rolled-back non-ASCII key would leave a result whose kind is too
   wide for its text. */

#define JSON_MAX_DEPTH 100

enum { JSON_OK = 0, JSON_ERROR = -1, JSON_GIVE_UP = 1 };

/* 0 when strip_empty drops v as a member, else 1.  A value outside the
   exact types, or a container at the depth bound, counts as kept: the
   writer then reaches it and gives up. */
static int
json_kept(PyObject *v, int depth)
{
    PyTypeObject *tp = Py_TYPE(v);
    if (v == Py_None)
        return 0;
    if (tp == &PyUnicode_Type)
        return PyUnicode_GET_LENGTH(v) > 0;
    if (tp == &PyDict_Type) {
        Py_ssize_t pos = 0;
        PyObject *k, *x;
        if (depth >= JSON_MAX_DEPTH)
            return 1;
        while (PyDict_Next(v, &pos, &k, &x))
            if (json_kept(x, depth + 1))
                return 1;
        return 0;
    }
    if (tp == &PyList_Type || tp == &PyTuple_Type) {
        Py_ssize_t i, n = PySequence_Fast_GET_SIZE(v);
        PyObject **items = PySequence_Fast_ITEMS(v);
        if (depth >= JSON_MAX_DEPTH)
            return 1;
        for (i = 0; i < n; i++)
            if (json_kept(items[i], depth + 1))
                return 1;
        return 0;
    }
    return 1;
}

/* index of the first character of s[i:n] that json escapes: '"', '\\'
   or a control character below 0x20; n when there is none */
#define JSON_SCAN(T)                                                    \
    do {                                                                \
        const T *p = (const T *)d;                                      \
        for (; i < n; i++)                                              \
            if (p[i] < 0x20 || p[i] == '"' || p[i] == '\\')             \
                return i;                                               \
    } while (0)

static Py_ssize_t
json_next_escape(int kind, const void *d, Py_ssize_t i, Py_ssize_t n)
{
    switch (kind) {
    case PyUnicode_1BYTE_KIND: JSON_SCAN(Py_UCS1); break;
    case PyUnicode_2BYTE_KIND: JSON_SCAN(Py_UCS2); break;
    default: JSON_SCAN(Py_UCS4); break;
    }
    return n;
}

/* s as a JSON string with json's ensure_ascii=False escapes: the short
   forms for '"', '\\', \n, \r, \t, \b and \f, \u00xx (lowercase hex)
   for the other control characters, every other character raw (lone
   surrogates included) */
static int
json_write_str(_PyUnicodeWriter *w, PyObject *s)
{
    static const char hex[] = "0123456789abcdef";
    Py_ssize_t n, run = 0, i;
    int kind;
    const void *d;
#if PY_VERSION_HEX < 0x030C0000
    if (PyUnicode_READY(s) < 0)
        return -1;
#endif
    n = PyUnicode_GET_LENGTH(s);
    kind = PyUnicode_KIND(s);
    d = PyUnicode_DATA(s);
    if (_PyUnicodeWriter_WriteChar(w, '"') < 0)
        return -1;
    for (i = json_next_escape(kind, d, 0, n); i < n;
         i = json_next_escape(kind, d, run, n)) {
        Py_UCS4 c = PyUnicode_READ(kind, d, i);
        char esc[6] = {'\\', 0, '0', '0', 0, 0};
        Py_ssize_t len = 2;
        if (i > run && _PyUnicodeWriter_WriteSubstring(w, s, run, i) < 0)
            return -1;
        switch (c) {
        case '"': esc[1] = '"'; break;
        case '\\': esc[1] = '\\'; break;
        case '\n': esc[1] = 'n'; break;
        case '\r': esc[1] = 'r'; break;
        case '\t': esc[1] = 't'; break;
        case '\b': esc[1] = 'b'; break;
        case '\f': esc[1] = 'f'; break;
        default:
            esc[1] = 'u';
            esc[4] = hex[c >> 4];
            esc[5] = hex[c & 0xF];
            len = 6;
        }
        if (_PyUnicodeWriter_WriteASCIIString(w, esc, len) < 0)
            return -1;
        run = i + 1;
    }
    if (n > run && _PyUnicodeWriter_WriteSubstring(w, s, run, n) < 0)
        return -1;
    return _PyUnicodeWriter_WriteChar(w, '"');
}

/* repr(v) through the exact type's tp_repr, as json's encoder writes
   int and float */
static int
json_write_repr(_PyUnicodeWriter *w, PyObject *v)
{
    PyObject *r = Py_TYPE(v)->tp_repr(v);
    int rc;
    if (r == NULL)
        return -1;
    rc = _PyUnicodeWriter_WriteStr(w, r);
    Py_DECREF(r);
    return rc;
}

/* v, whose container members are kept only when json_kept says so;
   JSON_OK, JSON_ERROR (an exception is set) or JSON_GIVE_UP */
static int
json_write(_PyUnicodeWriter *w, PyObject *v, int depth)
{
    PyTypeObject *tp = Py_TYPE(v);
    int rc, first = 1;
    if (tp == &PyUnicode_Type)
        return json_write_str(w, v);
    if (tp == &PyDict_Type) {
        Py_ssize_t pos = 0;
        PyObject *k, *x;
        if (depth >= JSON_MAX_DEPTH)
            return JSON_GIVE_UP;
        if (_PyUnicodeWriter_WriteChar(w, '{') < 0)
            return JSON_ERROR;
        while (PyDict_Next(v, &pos, &k, &x)) {
            if (!json_kept(x, depth + 1))
                continue;
            if (!PyUnicode_CheckExact(k))
                return JSON_GIVE_UP;
            if ((!first && _PyUnicodeWriter_WriteChar(w, ',') < 0)
                    || json_write_str(w, k) < 0
                    || _PyUnicodeWriter_WriteChar(w, ':') < 0)
                return JSON_ERROR;
            first = 0;
            if ((rc = json_write(w, x, depth + 1)) != JSON_OK)
                return rc;
        }
        return _PyUnicodeWriter_WriteChar(w, '}') < 0 ? JSON_ERROR : JSON_OK;
    }
    if (tp == &PyList_Type || tp == &PyTuple_Type) {
        Py_ssize_t i, n = PySequence_Fast_GET_SIZE(v);
        PyObject **items = PySequence_Fast_ITEMS(v);
        if (depth >= JSON_MAX_DEPTH)
            return JSON_GIVE_UP;
        if (_PyUnicodeWriter_WriteChar(w, '[') < 0)
            return JSON_ERROR;
        for (i = 0; i < n; i++) {
            PyObject *x = items[i];
            if (!json_kept(x, depth + 1))
                continue;
            if (!first && _PyUnicodeWriter_WriteChar(w, ',') < 0)
                return JSON_ERROR;
            first = 0;
            if ((rc = json_write(w, x, depth + 1)) != JSON_OK)
                return rc;
        }
        return _PyUnicodeWriter_WriteChar(w, ']') < 0 ? JSON_ERROR : JSON_OK;
    }
    if (v == Py_None)
        rc = _PyUnicodeWriter_WriteASCIIString(w, "null", 4);
    else if (v == Py_True)
        rc = _PyUnicodeWriter_WriteASCIIString(w, "true", 4);
    else if (v == Py_False)
        rc = _PyUnicodeWriter_WriteASCIIString(w, "false", 5);
    else if (tp == &PyLong_Type)
        rc = json_write_repr(w, v);
    else if (tp == &PyFloat_Type) {
        if (!Py_IS_FINITE(PyFloat_AS_DOUBLE(v)))
            return JSON_GIVE_UP;
        rc = json_write_repr(w, v);
    }
    else
        return JSON_GIVE_UP;
    return rc < 0 ? JSON_ERROR : JSON_OK;
}

/* canonical_json(value): the text, or None where the specification
   must run */
static PyObject *
htmlscan_canonical_json(PyObject *self, PyObject *value)
{
    _PyUnicodeWriter w;
    int rc;
    _PyUnicodeWriter_Init(&w);
    w.overallocate = 1;
    rc = json_write(&w, value, 0);
    if (rc != JSON_OK) {
        _PyUnicodeWriter_Dealloc(&w);
        if (rc == JSON_ERROR)
            return NULL;
        Py_RETURN_NONE;
    }
    return _PyUnicodeWriter_Finish(&w);
}

static int
check_ready(void)
{
    if (node_type == NULL) {
        PyErr_SetString(PyExc_RuntimeError, "_htmlscan.init() not called");
        return -1;
    }
    return 0;
}

/* text(node): the module function */
static PyObject *
htmlscan_text(PyObject *self, PyObject *node)
{
    if (check_ready() < 0)
        return NULL;
    if (!PyObject_TypeCheck(node, node_type)) {
        PyErr_Format(PyExc_TypeError, "text() needs a %.100s, not %.100s",
                     node_type->tp_name, Py_TYPE(node)->tp_name);
        return NULL;
    }
    return subtree_text(node);
}

/* Node.text_content(): the method descriptor binds self, type-checked */
static PyObject *
node_text_content(PyObject *self, PyObject *unused)
{
    return subtree_text(self);
}

static PyMethodDef text_content_def = {
    "text_content", node_text_content, METH_NOARGS,
    "Whitespace-collapsed text of the subtree, skipping script, style, "
    "template, noscript and, from a rendered node, unrendered children; "
    "block elements and <br> "
    "separate words.  "
    "Native dom._text_content_py."};

static PyObject *
htmlscan_parse(PyObject *self, PyObject *const *args, Py_ssize_t nargs)
{
    int xml_mode = 0;
    if (check_ready() < 0)
        return NULL;
    if (nargs < 1 || nargs > 2) {
        PyErr_SetString(PyExc_TypeError, "parse(html, xml_mode=False)");
        return NULL;
    }
    if (!PyUnicode_Check(args[0])) {
        PyErr_Format(PyExc_TypeError, "html must be str, not %.100s",
                     Py_TYPE(args[0])->tp_name);
        return NULL;
    }
    if (nargs == 2 && (xml_mode = PyObject_IsTrue(args[1])) < 0)
        return NULL;
#if PY_VERSION_HEX < 0x030C0000
    if (PyUnicode_READY(args[0]) < 0)
        return NULL;
#endif
    {
        /* the build makes no garbage, so a collection during it would
           only re-traverse the young tree: defer it to the first
           allocation after the build */
        int was_enabled = PyGC_Disable();
        PyObject *root = build(args[0], xml_mode);
        if (was_enabled)
            PyGC_Enable();
        return root;
    }
}

/* byte offset of the object slot `name` of type tp */
static Py_ssize_t
slot_offset(PyTypeObject *tp, const char *name)
{
    PyObject *d = PyDict_GetItemString(tp->tp_dict, name);
    PyMemberDef *m;
    if (d == NULL || !Py_IS_TYPE(d, &PyMemberDescr_Type)) {
        PyErr_Format(PyExc_TypeError, "%s.%s is not a __slots__ member",
                     tp->tp_name, name);
        return -1;
    }
    m = ((PyMemberDescrObject *)d)->d_member;
    if (m->type != T_OBJECT_EX) {
        PyErr_Format(PyExc_TypeError, "%s.%s: unexpected slot type",
                     tp->tp_name, name);
        return -1;
    }
    return m->offset;
}

static void
set_ref(PyObject **dst, PyObject *v)
{
    Py_INCREF(v);
    Py_XSETREF(*dst, v);
}

static PyObject *
htmlscan_init(PyObject *self, PyObject *args)
{
    PyObject *node, *na, *ac, *pa, *tic, *ti, *ue, *bar, *rts, *blk, *descr;
    if (!PyArg_ParseTuple(args, "O!O!O!OO!OOOO!O!:init", &PyType_Type, &node,
                          &PyDict_Type, &na, &PyDict_Type, &ac, &pa,
                          &PyDict_Type, &tic, &ti, &ue, &bar,
                          &PyFrozenSet_Type, &rts, &PyFrozenSet_Type, &blk))
        return NULL;
    if ((off_tag = slot_offset((PyTypeObject *)node, "tag")) < 0
            || (off_attrs = slot_offset((PyTypeObject *)node, "attrs")) < 0
            || (off_children = slot_offset((PyTypeObject *)node,
                                           "children")) < 0
            || (off_doc_nodes = slot_offset((PyTypeObject *)node,
                                            "doc_nodes")) < 0
            || (off_i0 = slot_offset((PyTypeObject *)node, "i0")) < 0
            || (off_i1 = slot_offset((PyTypeObject *)node, "i1")) < 0
            || (off_pi = slot_offset((PyTypeObject *)node, "pi")) < 0
            || (off_s0 = slot_offset((PyTypeObject *)node, "s0")) < 0
            || (off_s1 = slot_offset((PyTypeObject *)node, "s1")) < 0
            || (off_e0 = slot_offset((PyTypeObject *)node, "e0")) < 0
            || (off_e1 = slot_offset((PyTypeObject *)node, "e1")) < 0
            || (off_unrendered = slot_offset((PyTypeObject *)node,
                                             "unrendered")) < 0)
        return NULL;
    if (doc_tag == NULL && (doc_tag = PyUnicode_InternFromString(
                                "#document")) == NULL)
        return NULL;
    set_ref((PyObject **)&node_type, node);
    set_ref(&no_attrs, na);
    set_ref(&attr_cache, ac);
    set_ref(&parse_attrs, pa);
    set_ref(&tag_info_cache, tic);
    set_ref(&tag_info, ti);
    set_ref(&unescape, ue);
    set_ref(&barriers, bar);
    set_ref(&raw_text_skip, rts);
    set_ref(&block_elements, blk);
    /* text_content: a method descriptor of Node, so node.text_content()
       calls subtree_text with no Python frame in between */
    descr = PyDescr_NewMethod(node_type, &text_content_def);
    if (descr == NULL || PyModule_AddObjectRef(self, "text_content",
                                               descr) < 0) {
        Py_XDECREF(descr);
        return NULL;
    }
    Py_DECREF(descr);
    Py_RETURN_NONE;
}

static PyMethodDef htmlscan_methods[] = {
    {"init", htmlscan_init, METH_VARARGS,
     "init(Node, no_attrs, attr_cache, parse_attrs, tag_info_cache, "
     "tag_info, unescape, close_barriers, raw_text_skip, block_elements): "
     "hand over dom.py's tables; sets text_content, the Node method "
     "descriptor of text()."},
    {"parse", (PyCFunction)(void (*)(void))htmlscan_parse, METH_FASTCALL,
     "parse(html, xml_mode=False) -> dom.Node: the tree "
     "dom._parse_html_fast builds."},
    {"text", htmlscan_text, METH_O,
     "text(node) -> str: the string dom._text_content_py(node) returns."},
    {"canonical_json", htmlscan_canonical_json, METH_O,
     "canonical_json(value) -> str: serialize._canonical_json_py(value), "
     "or None when value holds a type, a float or a depth the native "
     "walk leaves to it."},
    {NULL, NULL, 0, NULL},
};

static struct PyModuleDef htmlscan_module = {
    PyModuleDef_HEAD_INIT, "_htmlscan",
    "Native tag scan, tree build and subtree text for "
    "exstruct_spark.kernels.dom; canonical JSON for "
    "exstruct_spark.kernels.serialize.", -1,
    htmlscan_methods,
};

PyMODINIT_FUNC
PyInit__htmlscan(void)
{
    return PyModule_Create(&htmlscan_module);
}
